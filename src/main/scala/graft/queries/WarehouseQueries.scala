package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.operators.Upsert
import graft.queries.QueryDef.table
import graft.functions.DecimalExprs.cents2

/** Round-4 continuation: classic-warehouse serving tier — CDC apply
  * with delete tombstones (the Debezium-feed materialization the
  * reference's keyed-update sink implies but never ships), and two
  * TPC-H-shaped consumption queries (Q8 market share, Q3 shipping
  * priority) that exercise the full star-join planning surface:
  * multi-dimension broadcast joins, decimal-exact revenue math, and
  * selective date pushdown, with the fact table streamed through
  * exactly one aggregation shuffle.
  */
object WarehouseQueries {

  private val Dec = DecimalType(18, 2)

  /** q161 — CDC apply with tombstones ([[Upsert.applyCdc]]): a
    * synthetic Debezium-style feed derived from orders (key =
    * o_orderkey % 2000, seq = o_orderkey, every 11th op a delete) is
    * compacted to latest-op-per-key and delete-terminated keys are
    * dropped — [[Upsert.latestByKey]] (q70) alone would resurrect
    * them. Output carries each key's feed depth: the
    * compaction-ratio diagnostic an ingestion pipeline alerts on.
    * One key shuffle; rn, n_ops, and the tombstone filter all ride
    * the same window partition. */
  private val q161 = QueryDef(
    "q161_cdc_tombstones",
    (s, dir) => {
      val feed = table(s, dir, "orders")
        .select((col("o_orderkey") % 2000).as("key"),
          col("o_orderkey").as("seq"),
          when(col("o_orderkey") % 11 === 0, lit("D")).otherwise(lit("U"))
            .as("op"),
          cents2(col("o_totalprice")).as("cents"))
      Upsert.applyCdc(feed, Seq("key"), Seq(col("seq")))
        .select(col("key"), col("seq").as("last_seq"),
          col("_n_ops").as("n_ops"), col("cents").as("final_cents"))
        .orderBy(col("key"))
    },
    Some("""
      WITH feed AS (
        SELECT o_orderkey % 2000 AS key, o_orderkey AS seq,
               CASE WHEN o_orderkey % 11 = 0 THEN 'D' ELSE 'U' END AS op,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM orders),
      ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY key ORDER BY seq DESC) AS rn,
               COUNT(*) OVER (PARTITION BY key) AS n_ops
        FROM feed)
      SELECT key, seq AS last_seq, CAST(n_ops AS BIGINT) AS n_ops,
             cents AS final_cents
      FROM ranked WHERE rn = 1 AND op <> 'D'
      ORDER BY key"""))

  /** q162 — market share by supplier nation (TPC-H Q8 shape): within
    * the ASIA-customer market, each supplier nation's share of yearly
    * revenue. Five dimension joins (customer, nation×2, region,
    * supplier) all broadcast — the fact table streams through ONE
    * shuffle (the (year, nation) aggregate, ~years×nations rows);
    * the per-year total then rides a window over that tiny frame.
    * Revenue is exact DECIMAL until the final share division. */
  private val q162 = QueryDef(
    "q162_market_share",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = broadcast(table(s, dir, "customer"))
      val cn = broadcast(table(s, dir, "nation"))
      val r = broadcast(table(s, dir, "region"))
      val su = broadcast(table(s, dir, "supplier"))
      val sn = broadcast(table(s, dir, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("s_nation")))
      val byYear = Window.partitionBy(col("o_year"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(cn, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(sn, col("s_nationkey") === col("sn_key"))
        .select(year(col("o_orderdate")).cast(LongType).as("o_year"),
          col("s_nation"),
          (col("l_extendedprice").cast(Dec) *
            (lit(1).cast(Dec) - col("l_discount").cast(Dec))).as("rev"))
        .groupBy(col("o_year"), col("s_nation"))
        .agg(sum(col("rev")).as("nation_rev"))
        .withColumn("total_rev", sum(col("nation_rev")).over(byYear))
        .select(col("o_year"), col("s_nation"),
          col("nation_rev").cast(DoubleType).as("nation_rev"),
          col("total_rev").cast(DoubleType).as("total_rev"),
          (col("nation_rev").cast(DoubleType) /
            col("total_rev").cast(DoubleType)).as("share"))
        .orderBy(col("o_year"), col("s_nation"))
    },
    Some("""
      WITH rev AS (
        SELECT CAST(EXTRACT(year FROM CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS o_year,
               sn.n_name AS s_nation,
               CAST(l_extendedprice AS DECIMAL(18,2)) *
                 (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS rev
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE r_name = 'ASIA'),
      agg AS (
        SELECT o_year, s_nation, SUM(rev) AS nation_rev
        FROM rev GROUP BY 1, 2),
      tot AS (
        SELECT *, SUM(nation_rev) OVER (PARTITION BY o_year) AS total_rev
        FROM agg)
      SELECT o_year, s_nation,
             CAST(nation_rev AS DOUBLE) AS nation_rev,
             CAST(total_rev AS DOUBLE) AS total_rev,
             CAST(nation_rev AS DOUBLE) / CAST(total_rev AS DOUBLE) AS share
      FROM tot ORDER BY o_year, s_nation"""))

  /** q163 — shipping priority (TPC-H Q3 shape): top-10 unshipped-
    * revenue orders for one market segment at a cutoff date. The
    * selective date predicates push to both parquet scans
    * (`o_orderdate <`, `l_shipdate >` in PushedFilters), the segment
    * filter rides the broadcast customer dim, and the top-k plans as
    * TakeOrderedAndProject over the per-order aggregate — no global
    * sort materializes. */
  private val q163 = QueryDef(
    "q163_ship_priority",
    (s, dir) => {
      // the date columns are midnight-only timestamps, so comparing the
      // raw column (instead of to_date(col)) is equivalent AND keeps the
      // predicate eligible for parquet pushdown (PushedFilters)
      val cutoff = to_timestamp(lit("1998-07-01 00:00:00"))
      val li = table(s, dir, "lineitem")
        .filter(col("l_shipdate") > cutoff)
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") < cutoff)
      val c = broadcast(table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), to_date(col("o_orderdate")).as("order_date"))
        .agg(sum(col("l_extendedprice").cast(Dec) *
          (lit(1).cast(Dec) - col("l_discount").cast(Dec)))
          .cast(DoubleType).as("revenue"))
        .select(col("o_orderkey"), col("revenue"), col("order_date"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },
    Some("""
      SELECT o_orderkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
               (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
               AS DOUBLE) AS revenue,
             CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE) AS order_date
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE) < DATE '1998-07-01'
        AND CAST(CAST(l_shipdate AS TIMESTAMP) AS DATE) > DATE '1998-07-01'
      GROUP BY o_orderkey, order_date
      ORDER BY revenue DESC, o_orderkey LIMIT 10"""))

  /** q183 — item–item co-occurrence similarity (collaborative-
    * filtering primitive): supplier pairs ranked by Jaccard overlap
    * of their customer sets, estimated on a deterministic 20% md5
    * customer sample. The pair space is generated per customer via a
    * self-join on the sampled edge table (each customer contributes
    * C(k,2) pairs, k = its supplier count) — the inverted-index
    * shape, never an all-pairs supplier cross. Sampling bounds the
    * pair mass at any scale and is md5-deterministic, so the
    * estimate itself is hash-exact; set sizes come from the same
    * sample (consistent estimator). Jaccard in exact ppm; support
    * floor co ≥ 5 kills noise pairs. */
  private val q183 = QueryDef(
    "q183_item_similarity",
    (s, dir) => {
      import org.apache.spark.sql.types.StringType
      // the sampled edge table feeds three consumers (sizes + both
      // sides of the pair self-join) — materialize the join+distinct once
      val edges = graft.operators.Checkpoints.truncate(
        table(s, dir, "orders")
          .join(table(s, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
          .distinct()
          .filter(conv(substring(md5(col("c").cast(StringType)), 1, 15), 16, 10)
            .cast(org.apache.spark.sql.types.LongType) % 100 < 20))
      val sizes = edges.groupBy(col("sp")).agg(count(lit(1)).as("n"))
      // inverted-index pairing MATERIALIZED as such (round-14): one
      // hash exchange on c + per-customer supplier lists + in-stage
      // pair explode, instead of the old a⋈b self-join (two sort
      // exchanges + SortMergeJoin over the same checkpoint). The
      // explicit keyed repartition both feeds the groupBy (exchange
      // reuse — no extra shuffle) and pins the pair-generation stage
      // wide: AQE coalesced the byte-light (3 longs/row) pair
      // aggregate to ONE task, which ran its 1.2 s of counting alone
      // (the q140 hazard, job-log evidence in OPTIMIZATION_r14.md).
      val par = s.sessionState.conf.numShufflePartitions
      val byC = edges.repartition(par, col("c"))
        .groupBy(col("c"))
        .agg(sort_array(collect_list(col("sp"))).as("sps"))
        .filter(size(col("sps")) > 1)
      val co = byC
        .select(explode(col("sps")).as("sa"), col("sps"))
        .select(col("sa"), explode(col("sps")).as("sb"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("co"))
        .filter(col("co") >= 5)
      co.join(broadcast(sizes.select(col("sp").as("sa"), col("n").as("na"))),
          Seq("sa"))
        .join(broadcast(sizes.select(col("sp").as("sb"), col("n").as("nb"))),
          Seq("sb"))
        .withColumn("jaccard_ppm",
          expr("(co * 1000000L) div (na + nb - co)"))
        .select(col("sa"), col("sb"), col("co"), col("na"), col("nb"),
          col("jaccard_ppm"))
        .orderBy(col("jaccard_ppm").desc, col("sa"), col("sb"))
        .limit(20)
    },
    Some("""
      WITH edges AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      sampled AS (
        SELECT * FROM edges
        WHERE CAST('0x' || substr(md5(CAST(c AS VARCHAR)), 1, 15) AS BIGINT)
          % 100 < 20),
      sizes AS (SELECT sp, COUNT(*) AS n FROM sampled GROUP BY 1),
      co AS (
        SELECT a.sp AS sa, b.sp AS sb, COUNT(*) AS co
        FROM sampled a JOIN sampled b ON a.c = b.c AND a.sp < b.sp
        GROUP BY 1, 2 HAVING COUNT(*) >= 5)
      SELECT sa, sb, co,
             CAST(za.n AS BIGINT) AS na, CAST(zb.n AS BIGINT) AS nb,
             CAST((co * 1000000) // (za.n + zb.n - co) AS BIGINT) AS jaccard_ppm
      FROM co JOIN sizes za ON co.sa = za.sp
              JOIN sizes zb ON co.sb = zb.sp
      ORDER BY jaccard_ppm DESC, sa, sb LIMIT 20"""))

  /** q184 — bitemporal as-of query (valid time × transaction time):
    * versioned rows carry BOTH a validity interval (order date + 30
    * days) and a load batch (transaction time); the query answers
    * "as the warehouse knew it at batch ≤ 1, what was valid on
    * 1998-06-15" — first restrict to the transaction horizon, then
    * latest version per key, THEN the validity predicate. Doing it in
    * any other order silently leaks future knowledge (the classic
    * bitemporal bug). Composes the SCD2/PIT machinery (q05/q06) with
    * the latest-by-key compaction (q70) across two independent time
    * axes; one key-shuffle window plus pushed scan filters. */
  private val q184 = QueryDef(
    "q184_bitemporal_asof",
    (s, dir) => {
      val v = table(s, dir, "orders")
        .select((col("o_orderkey") % 1000).as("key"),
          col("o_orderkey").as("version"),
          (col("o_orderkey") % 3).as("batch"),
          to_date(col("o_orderdate")).as("valid_from"),
          date_add(to_date(col("o_orderdate")), 30).as("valid_to"),
          cents2(col("o_totalprice")).as("cents"))
      val asKnown = v.filter(col("batch") <= 1)
      val latest = Upsert.latestByKey(asKnown, Seq("key"), Seq(col("version")))
      latest
        .filter(col("valid_from") <= lit("1998-06-15") &&
          col("valid_to") > lit("1998-06-15"))
        .select(col("key"), col("version"), col("batch"),
          col("valid_from"), col("cents"))
        .orderBy(col("key"))
    },
    Some("""
      WITH v AS (
        SELECT o_orderkey % 1000 AS key, o_orderkey AS version,
               o_orderkey % 3 AS batch,
               CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE) AS valid_from,
               CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE) + 30 AS valid_to,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM orders),
      known AS (SELECT * FROM v WHERE batch <= 1),
      latest AS (
        SELECT * FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY key
                                       ORDER BY version DESC) AS rn
          FROM known) WHERE rn = 1)
      SELECT key, version, batch, valid_from, cents
      FROM latest
      WHERE valid_from <= DATE '1998-06-15' AND valid_to > DATE '1998-06-15'
      ORDER BY key"""))

  /** q185 — FIFO lot allocation WITHOUT iteration (running-total
    * interval matching): per part, supply lots (returnflag 'R') and
    * demands (the rest) each occupy half-open intervals on the
    * cumulative-quantity axis in arrival order; FIFO says lot i
    * serves demand j exactly where their intervals overlap —
    * max(0, min(cs_i, cd_j) − max(cs_{i−1}, cd_{j−1})). The entire
    * sequential matching collapses to two cumulative windows + one
    * within-part interval join (equi on the part, residual on the
    * overlap) — the set-based form of a loop every procedural
    * warehouse writes. All-integer quantities; per-part outputs
    * include the pair count, the FIFO structure's fingerprint. */
  private val q185 = QueryDef(
    "q185_fifo_allocation",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
        .select(col("l_partkey").as("part"), col("l_orderkey"),
          col("l_linenumber"), col("l_returnflag"),
          col("l_quantity").cast(LongType).as("qty"))
      val w = Window.partitionBy(col("part"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def cum(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("hi", sum(col("qty")).over(w))
        .withColumn("lo", col("hi") - col("qty"))
      val lots = cum(li.filter(col("l_returnflag") === "R"))
        .select(col("part"), col("lo").as("slo"), col("hi").as("shi"))
      val dem = cum(li.filter(col("l_returnflag") =!= "R"))
        .select(col("part").as("dpart"), col("lo").as("dlo"),
          col("hi").as("dhi"))
      val pairs = lots.join(dem,
          col("part") === col("dpart") &&
            col("shi") > col("dlo") && col("dhi") > col("slo"))
        .select(col("part"),
          (least(col("shi"), col("dhi")) - greatest(col("slo"), col("dlo")))
            .as("alloc"))
      val perPart = li.groupBy(col("part")).agg(
        sum(when(col("l_returnflag") === "R", col("qty")).otherwise(lit(0L)))
          .as("supply"),
        sum(when(col("l_returnflag") =!= "R", col("qty")).otherwise(lit(0L)))
          .as("demand"))
      pairs.groupBy(col("part"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("alloc")).as("matched"))
        .join(perPart, Seq("part"))
        .select(col("part"), col("n_pairs"), col("matched"),
          (col("supply") - col("matched")).as("leftover_supply"),
          (col("demand") - col("matched")).as("unfilled_demand"))
        .orderBy(col("matched").desc, col("part"))
        .limit(20)
    },
    Some("""
      WITH li AS (
        SELECT l_partkey AS part, l_orderkey, l_linenumber, l_returnflag,
               CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem),
      lots AS (
        SELECT part,
               SUM(qty) OVER w - qty AS slo, SUM(qty) OVER w AS shi
        FROM li WHERE l_returnflag = 'R'
        WINDOW w AS (PARTITION BY part ORDER BY l_orderkey, l_linenumber
                     ROWS UNBOUNDED PRECEDING)),
      dem AS (
        SELECT part,
               SUM(qty) OVER w - qty AS dlo, SUM(qty) OVER w AS dhi
        FROM li WHERE l_returnflag <> 'R'
        WINDOW w AS (PARTITION BY part ORDER BY l_orderkey, l_linenumber
                     ROWS UNBOUNDED PRECEDING)),
      pairs AS (
        SELECT lots.part,
               LEAST(shi, dhi) - GREATEST(slo, dlo) AS alloc
        FROM lots JOIN dem ON lots.part = dem.part
                          AND shi > dlo AND dhi > slo),
      per_part AS (
        SELECT part,
               SUM(CASE WHEN l_returnflag = 'R' THEN qty ELSE 0 END) AS supply,
               SUM(CASE WHEN l_returnflag <> 'R' THEN qty ELSE 0 END) AS demand
        FROM li GROUP BY 1)
      SELECT p.part, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(alloc) AS BIGINT) AS matched,
             CAST(pp.supply - SUM(alloc) AS BIGINT) AS leftover_supply,
             CAST(pp.demand - SUM(alloc) AS BIGINT) AS unfilled_demand
      FROM pairs p JOIN per_part pp ON p.part = pp.part
      GROUP BY p.part, pp.supply, pp.demand
      ORDER BY matched DESC, p.part LIMIT 20"""))

  val all: Seq[QueryDef] = Seq(q161, q162, q163, q183, q184, q185)
}
