package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.JdeFunctions._
import graft.operators.{CalendarDim, Checkpoints, FactLoad, Scd2}
import QueryDef.table
import graft.functions.DecimalExprs.dec2

/** Parity query set — the reference's workload shape (JDE decode,
  * calendar dim, SCD2 merge, point-in-time fact load, star top-k,
  * counts) recast onto the driver's TPC-H-ish fixtures, each with a
  * DuckDB oracle twin. SURVEY.md §2 operators covered per query are
  * noted inline.
  */
object ParityQueries {

  private val Dec = DecimalType(18, 2)

  /** q01 — A1/groupBy aggregate pricing summary (decimal-exact). */
  private val q01 = QueryDef(
    "q01_pricing_summary",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
      // dec2: exact DECIMAL(18,2) via compact unscaled-long
      // construction — the double→decimal CAST's per-row BigDecimal
      // round trip was ~80% of this scan stage (DecimalExprs rationale)
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec2(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
          sum(dec2(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
          sum(dec2(col("l_extendedprice")) *
            (lit(1).cast(Dec) - dec2(col("l_discount"))))
            .cast(DoubleType).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        COUNT(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  /** q02 — C6/J-f/A4 flagship star top-k: top-10 orders by value with
    * customer → nation → region dims (all broadcast). */
  private val q02 = QueryDef(
    "q02_star_topk",
    (s, dir) => {
      val o = table(s, dir, "orders")
      val c = broadcast(table(s, dir, "customer"))
      val n = broadcast(table(s, dir, "nation"))
      val r = broadcast(table(s, dir, "region"))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .select(o("o_orderkey").as("order_key"), c("c_name").as("customer_name"),
          n("n_name").as("nation_name"), r("r_name").as("region_name"),
          o("o_totalprice").as("total_price"))
        .orderBy(col("total_price").desc, col("order_key"))
        .limit(10)
    },
    Some("""
      SELECT o_orderkey AS order_key, c_name AS customer_name,
             n_name AS nation_name, r_name AS region_name,
             o_totalprice AS total_price
      FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      ORDER BY total_price DESC, order_key LIMIT 10"""))

  /** q03 — J1/J2/J8 JDE decode round-trip: encode o_orderdate as a
    * Julian CYYDDD int and an implicit-decimal cents amount, decode
    * with the engine's codec, verify against the source column. */
  private val q03 = QueryDef(
    "q03_jde_decode",
    (s, dir) => {
      val o = table(s, dir, "orders")
      val julian = dateToJulian(col("o_orderdate"))
      val cents = round(col("o_totalprice") * 100).cast(LongType)
      o.select(
          col("o_orderkey").as("order_key"),
          julian.cast(LongType).as("julian"),
          julianToDate(julian).as("decoded_date"),
          col("o_orderdate").cast(DateType).as("source_date"),
          fromImplicitDecimal(cents).cast(DoubleType).as("amount"))
        .orderBy(col("order_key"))
    },
    Some("""
      SELECT o_orderkey AS order_key,
        CAST((year(o_orderdate)-1900)*1000 + dayofyear(o_orderdate) AS BIGINT) AS julian,
        make_date(CAST(year(o_orderdate) AS INT), 1, 1)
          + CAST(dayofyear(o_orderdate)-1 AS INT) AS decoded_date,
        CAST(o_orderdate AS DATE) AS source_date,
        CAST(CAST(CAST(ROUND(o_totalprice*100) AS BIGINT) AS DECIMAL(18,2))/100 AS DOUBLE) AS amount
      FROM orders ORDER BY order_key"""))

  /** q04 — C5/J3/J12-J15 calendar dimension, full reference range
    * (2020-01-01..2040-12-31, 7,671 rows). */
  private val q04 = QueryDef(
    "q04_calendar_dim",
    (s, _) =>
      CalendarDim(s).select(
        col("DateKey").cast(LongType).as("date_key"),
        col("FullDate").as("full_date"),
        col("DayOfMonth").cast(LongType).as("day_of_month"),
        col("DayOfWeekName").as("day_of_week_name"),
        col("DayOfWeekNumber").cast(LongType).as("day_of_week_number"),
        col("WeekOfYear").cast(LongType).as("week_of_year"),
        col("MonthNumber").cast(LongType).as("month_number"),
        col("MonthName").as("month_name"),
        col("Quarter").cast(LongType).as("quarter"),
        col("Year").cast(LongType).as("year"),
        col("IsWeekend").as("is_weekend"),
        col("IsLeapYear").as("is_leap_year"),
        col("FiscalQuarter").cast(LongType).as("fiscal_quarter"),
        col("FiscalYear").cast(LongType).as("fiscal_year"))
      .orderBy(col("date_key")),
    Some("""
      WITH days AS (
        SELECT CAST(unnest(generate_series(DATE '2020-01-01', DATE '2040-12-31',
                                           INTERVAL 1 DAY)) AS DATE) AS d)
      SELECT CAST(strftime(d, '%Y%m%d') AS BIGINT) AS date_key, d AS full_date,
        CAST(day(d) AS BIGINT) AS day_of_month,
        dayname(d) AS day_of_week_name,
        CAST(dayofweek(d) + 1 AS BIGINT) AS day_of_week_number,
        CAST(weekofyear(d) AS BIGINT) AS week_of_year,
        CAST(month(d) AS BIGINT) AS month_number,
        monthname(d) AS month_name,
        CAST(quarter(d) AS BIGINT) AS quarter,
        CAST(year(d) AS BIGINT) AS year,
        dayofweek(d) IN (0, 6) AS is_weekend,
        (year(d)%4=0 AND year(d)%100<>0) OR year(d)%400=0 AS is_leap_year,
        CAST(quarter(d) AS BIGINT) AS fiscal_quarter,
        CAST(year(d) AS BIGINT) AS fiscal_year
      FROM days ORDER BY date_key"""))

  /** q05 — C3 SCD2 two-batch merge (J5 hash, J-a lookup, P4 split,
    * A3 union, surrogate keys): batch 1 seeds the dimension from
    * `customer`; batch 2 changes every custkey%3==0 category and adds
    * custkey%10==0 clones as new keys. Output = full dimension state.
    */
  private val q05 = QueryDef(
    "q05_scd2_merge",
    (s, dir) => {
      val customer = table(s, dir, "customer")
      val b1 = customer.select(
        col("c_custkey").as("CustomerID"),
        col("c_name").as("CustomerName"),
        lit("C").as("SearchType"),
        col("c_mktsegment").as("CategoryCode"))
      // new-key offset derived from the DATA, not a fixture constant:
      // a literal +1_000_000 collided with real custkeys once the
      // diverse-sf8 tier's customer table crossed 1.2 M rows, injecting
      // duplicate business keys into the merge batch (the round-12
      // ladder defect — surrogate tie-break then diverged from the
      // oracle by ±1). max+1 keeps the clone keyspace disjoint at any
      // scale; the broadcast scalar is the q167-waterline pattern.
      val maxKey = customer.agg(max(col("c_custkey")).as("_maxk"))
      val b2 = b1.withColumn("CategoryCode",
          when(col("CustomerID") % 3 === 0, lit("PROMO"))
            .otherwise(col("CategoryCode")))
        .unionByName(customer.filter(col("c_custkey") % 10 === 0)
          .crossJoin(broadcast(maxKey)).select(
            (col("c_custkey") + col("_maxk") + 1L).as("CustomerID"),
            concat(lit("NEW-"), col("c_custkey").cast(StringType)).as("CustomerName"),
            lit("C").as("SearchType"),
            lit("NEWSEG").as("CategoryCode")))
      val spec = Scd2.Spec("CustomerKey", "CustomerID",
        Seq("CustomerName", "SearchType", "CategoryCode"))
      val t0 = to_timestamp(lit("2024-01-01 00:00:00"))
      val t1 = to_timestamp(lit("2024-06-01 00:00:00"))
      // a lineage cut (not cache): merge-2 then plans and runs over
      // a flat LogicalRDD scan instead of re-evaluating merge-1's
      // whole DAG — the operator scaladoc's chaining guidance
      val dim1 = Checkpoints.truncate(
        Scd2.merge(Scd2.emptyDim(s, b1, spec), b1, spec, t0))
      val dim2 = Scd2.merge(dim1, b2, spec, t1)
      dim2.select(
          col("CustomerKey").as("customer_key"),
          col("CustomerID").as("customer_id"),
          col("CustomerName").as("customer_name"),
          col("SearchType").as("search_type"),
          col("CategoryCode").as("category_code"),
          col("IsActive").as("is_active"),
          unix_millis(col("ValidFrom")).as("valid_from_ms"),
          unix_millis(col("ValidTo")).as("valid_to_ms"),
          col("RowHash").as("row_hash"))
        .orderBy(col("customer_key"))
    },
    Some("""
      WITH b1 AS (
        SELECT c_custkey AS cid, c_name AS cname, 'C' AS stype,
               c_mktsegment AS ccode FROM customer),
      b2 AS (
        SELECT cid, cname, stype,
               CASE WHEN cid%3=0 THEN 'PROMO' ELSE ccode END AS ccode FROM b1
        UNION ALL
        SELECT c_custkey + (SELECT MAX(c_custkey)+1 FROM customer),
               'NEW-' || CAST(c_custkey AS VARCHAR), 'C', 'NEWSEG'
        FROM customer WHERE c_custkey%10=0),
      dim1 AS (
        SELECT ROW_NUMBER() OVER (ORDER BY cid) AS ckey, cid, cname, stype, ccode,
               TRUE AS active, TIMESTAMP '2024-01-01' AS vfrom,
               CAST(NULL AS TIMESTAMP) AS vto,
               sha256(concat_ws('|', cname, stype, ccode)) AS rhash
        FROM b1),
      j AS (
        SELECT b2.*, sha256(concat_ws('|', b2.cname, b2.stype, b2.ccode)) AS nhash,
               d.ckey AS ekey, d.rhash AS ehash
        FROM b2 LEFT JOIN dim1 d ON b2.cid = d.cid AND d.active),
      ins AS (
        SELECT (SELECT MAX(ckey) FROM dim1) + ROW_NUMBER() OVER (ORDER BY cid) AS ckey,
               cid, cname, stype, ccode, TRUE AS active,
               TIMESTAMP '2024-06-01' AS vfrom, CAST(NULL AS TIMESTAMP) AS vto,
               nhash AS rhash
        FROM j WHERE ekey IS NULL OR nhash <> ehash),
      expired_keys AS (SELECT ekey FROM j WHERE ekey IS NOT NULL AND nhash <> ehash),
      final AS (
        SELECT ckey, cid, cname, stype, ccode,
               CASE WHEN ckey IN (SELECT ekey FROM expired_keys) THEN FALSE ELSE active END AS active,
               vfrom,
               CASE WHEN ckey IN (SELECT ekey FROM expired_keys)
                    THEN TIMESTAMP '2024-06-01' ELSE vto END AS vto,
               rhash
        FROM dim1
        UNION ALL SELECT * FROM ins)
      SELECT ckey AS customer_key, cid AS customer_id, cname AS customer_name,
             stype AS search_type, ccode AS category_code, active AS is_active,
             epoch_ms(vfrom) AS valid_from_ms, epoch_ms(vto) AS valid_to_ms,
             rhash AS row_hash
      FROM final ORDER BY customer_key"""))

  /** q06 — C4/J-c/J9 point-in-time fact load over a two-version
    * dimension (even custkeys versioned at 1998-06-15), with the
    * calendar-dim validation join (J-d) supplying the weekday name. */
  private val q06 = QueryDef(
    "q06_pit_fact",
    (s, dir) => {
      val customer = table(s, dir, "customer")
      val v1 = customer.select(
        (col("c_custkey") * 2 + 1).as("CustomerKey"),
        col("c_custkey").as("CustomerID"),
        to_timestamp(lit("1990-01-01 00:00:00")).as("ValidFrom"),
        when(col("c_custkey") % 2 === 0,
          to_timestamp(lit("1998-06-15 00:00:00"))).as("ValidTo"))
      val v2 = customer.filter(col("c_custkey") % 2 === 0).select(
        (col("c_custkey") * 2 + 2).as("CustomerKey"),
        col("c_custkey").as("CustomerID"),
        to_timestamp(lit("1998-06-15 00:00:00")).as("ValidFrom"),
        lit(null).cast(TimestampType).as("ValidTo"))
      val dim = v1.unionByName(v2)
      val silver = table(s, dir, "orders").select(
        col("o_orderkey").as("OrderNumber"),
        col("o_custkey").as("CustomerID"),
        col("o_orderdate").cast(DateType).as("OrderDate"))
      val joined = FactLoad.pointInTimeJoin(silver, dim)
        .withColumn("DateKey", dateKey(col("OrderDate")))
      val cal = broadcast(CalendarDim(s, "1992-01-01", "2005-12-31")
        .select(col("DateKey").as("_ck"), col("DayOfWeekName")))
      joined.join(cal, joined("DateKey") === cal("_ck"), "left")
        .select(
          col("OrderNumber").as("order_number"),
          col("CustomerID").as("customer_id"),
          col("CustomerKey").as("customer_key"),
          col("DateKey").cast(LongType).as("date_key"),
          col("DayOfWeekName").as("day_of_week_name"))
        .orderBy(col("order_number"))
    },
    Some("""
      WITH dim AS (
        SELECT c_custkey*2+1 AS ckey, c_custkey AS cid,
               TIMESTAMP '1990-01-01' AS vfrom,
               CASE WHEN c_custkey%2=0 THEN TIMESTAMP '1998-06-15' END AS vto
        FROM customer
        UNION ALL
        SELECT c_custkey*2+2, c_custkey, TIMESTAMP '1998-06-15', NULL
        FROM customer WHERE c_custkey%2=0),
      silver AS (
        SELECT o_orderkey AS onum, o_custkey AS cid,
               CAST(o_orderdate AS DATE) AS odate FROM orders)
      SELECT s.onum AS order_number, s.cid AS customer_id, d.ckey AS customer_key,
             CAST(strftime(s.odate, '%Y%m%d') AS BIGINT) AS date_key,
             dayname(s.odate) AS day_of_week_name
      FROM silver s LEFT JOIN dim d ON s.cid = d.cid
        AND CAST(s.odate AS TIMESTAMP) >= d.vfrom
        AND CAST(s.odate AS TIMESTAMP) < COALESCE(d.vto, TIMESTAMP '9999-12-31')
      ORDER BY order_number"""))

  /** q07 — A4 true top-k (TakeOrderedAndProject, no global sort). */
  private val q07 = QueryDef(
    "q07_topk_lineitems",
    (s, dir) =>
      table(s, dir, "lineitem")
        .select(col("l_orderkey").as("order_key"),
          col("l_linenumber").cast(LongType).as("line_number"),
          col("l_extendedprice").as("extended_price"))
        .orderBy(col("extended_price").desc, col("order_key"), col("line_number"))
        .limit(10),
    Some("""
      SELECT l_orderkey AS order_key, CAST(l_linenumber AS BIGINT) AS line_number,
             l_extendedprice AS extended_price
      FROM lineitem
      ORDER BY extended_price DESC, order_key, line_number LIMIT 10"""))

  /** q08 — A1/A2 verification counts with UNION ALL. */
  private val q08 = QueryDef(
    "q08_zone_counts",
    (s, dir) => {
      def one(name: String) =
        table(s, dir, name).agg(count(lit(1)).as("n"))
          .select(lit(name).as("tbl"), col("n"))
      one("customer").union(one("lineitem")).union(one("orders"))
        .orderBy(col("tbl"))
    },
    Some("""
      SELECT 'customer' AS tbl, COUNT(*) AS n FROM customer
      UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
      UNION ALL SELECT 'orders', COUNT(*) FROM orders
      ORDER BY tbl"""))

  /** q09 — rollup aggregation (beyond-parity GROUP BY surface). */
  private val q09 = QueryDef(
    "q09_rollup_orders",
    (s, dir) =>
      table(s, dir, "orders")
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast(DoubleType).as("total"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("total"))
        .orderBy(col("priority"), col("status")),
    Some("""
      SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
             COALESCE(o_orderstatus, 'ALL') AS status,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
      ORDER BY priority, status"""))

  /** q10 — window function: top-3 orders per customer by value. */
  private val q10 = QueryDef(
    "q10_window_rank",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      table(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey").as("cust_key"),
          col("o_orderkey").as("order_key"),
          col("o_totalprice").as("total_price"),
          col("rn").cast(LongType).as("rank_in_cust"))
        .orderBy(col("cust_key"), col("rank_in_cust"))
    },
    Some("""
      SELECT o_custkey AS cust_key, o_orderkey AS order_key,
             o_totalprice AS total_price, CAST(rn AS BIGINT) AS rank_in_cust
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
      WHERE rn <= 3 ORDER BY cust_key, rank_in_cust"""))

  /** q11 — anti/semi join surface: orders with no line items. */
  private val q11 = QueryDef(
    "q11_anti_join",
    (s, dir) => {
      val o = table(s, dir, "orders")
      val li = table(s, dir, "lineitem")
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti")
        .select(col("o_orderkey").as("order_key"),
          col("o_totalprice").as("total_price"))
        .orderBy(col("order_key"))
    },
    Some("""
      SELECT o_orderkey AS order_key, o_totalprice AS total_price FROM orders
      WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
      ORDER BY order_key"""))

  /** q12 — distinct aggregation per group. */
  private val q12 = QueryDef(
    "q12_distinct_customers",
    (s, dir) =>
      table(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"))
        .select(col("o_orderstatus").as("status"), col("n_customers"), col("n_orders"))
        .orderBy(col("status")),
    Some("""
      SELECT o_orderstatus AS status, COUNT(DISTINCT o_custkey) AS n_customers,
             COUNT(*) AS n_orders
      FROM orders GROUP BY o_orderstatus ORDER BY status"""))

  /** q13 — entry point 3 (SURVEY.md §3.3): the SQL surface.
    * Temp views + `spark.sql` — same Catalyst lifecycle as the
    * DataFrame chain, exercised explicitly. */
  private val q13 = QueryDef(
    "q13_sql_entry",
    (s, dir) => {
      table(s, dir, "orders").createOrReplaceTempView("v_orders")
      table(s, dir, "customer").createOrReplaceTempView("v_customer")
      s.sql("""
        SELECT c_mktsegment AS segment, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM v_orders JOIN v_customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY segment""")
    },
    Some("""
      SELECT c_mktsegment AS segment, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY segment"""))

  /** q14 — cube aggregation (full grouping-set surface beyond q09's
    * rollup). */
  private val q14 = QueryDef(
    "q14_cube_orders",
    (s, dir) =>
      table(s, dir, "orders")
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"))
        .orderBy(col("priority"), col("status")),
    Some("""
      SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
             COALESCE(o_orderstatus, 'ALL') AS status,
             COUNT(*) AS n
      FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
      ORDER BY priority, status"""))

  /** q15 — intersect/except set operations: customer nations present
    * in orders vs supplier nations. */
  private val q15 = QueryDef(
    "q15_set_ops",
    (s, dir) => {
      val custNations = table(s, dir, "orders")
        .join(table(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("nation_key")).distinct()
      val suppNations = table(s, dir, "supplier")
        .select(col("s_nationkey").as("nation_key")).distinct()
      val both = custNations.intersect(suppNations)
        .withColumn("which", lit("both"))
      val custOnly = custNations.except(suppNations)
        .withColumn("which", lit("cust_only"))
      both.unionByName(custOnly).orderBy(col("which"), col("nation_key"))
    },
    Some("""
      WITH cn AS (SELECT DISTINCT c_nationkey AS nation_key
                  FROM orders JOIN customer ON o_custkey = c_custkey),
           sn AS (SELECT DISTINCT s_nationkey AS nation_key FROM supplier)
      SELECT nation_key, 'both' AS which FROM (SELECT * FROM cn INTERSECT SELECT * FROM sn)
      UNION ALL
      SELECT nation_key, 'cust_only' FROM (SELECT * FROM cn EXCEPT SELECT * FROM sn)
      ORDER BY which, nation_key"""))

  /** q16 — salted skew join equals the plain join (correctness of the
    * skew-mitigation path; the salt spreads hot keys over reducers). */
  private val q16 = QueryDef(
    "q16_salted_join",
    (s, dir) => {
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      graft.operators.Skew.saltedJoin(o, c, "o_custkey", saltBuckets = 8,
          factSaltCols = Seq("o_orderkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"))
        .select(col("c_mktsegment").as("segment"), col("n_orders"))
        .orderBy(col("segment"))
    },
    Some("""
      SELECT c_mktsegment AS segment, COUNT(*) AS n_orders
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY segment"""))

  /** q17 — pivot (conditional-aggregation twin in the oracle: that is
    * exactly what Catalyst lowers pivot to). */
  private val q17 = QueryDef(
    "q17_pivot_status",
    (s, dir) =>
      table(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("priority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("priority"),
          coalesce(col("F"), lit(0L)).as("F"),
          coalesce(col("O"), lit(0L)).as("O"),
          coalesce(col("P"), lit(0L)).as("P"))
        .orderBy(col("priority")),
    Some("""
      SELECT o_orderpriority AS priority,
             COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
             COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
             COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P
      FROM orders GROUP BY 1 ORDER BY priority"""))

  /** q18 — exact interpolated percentiles (Spark `percentile` and
    * DuckDB `quantile_cont` share the R-7 continuous definition). */
  private val q18 = QueryDef(
    "q18_percentiles",
    (s, dir) =>
      table(s, dir, "orders")
        .groupBy(col("o_orderstatus").as("status"))
        .agg(expr("percentile(o_totalprice, array(0.25, 0.5, 0.75))").as("p"))
        .select(col("status"),
          element_at(col("p"), 1).as("p25"),
          element_at(col("p"), 2).as("p50"),
          element_at(col("p"), 3).as("p75"))
        .orderBy(col("status")),
    Some("""
      SELECT o_orderstatus AS status,
             quantile_cont(o_totalprice, 0.25) AS p25,
             quantile_cont(o_totalprice, 0.50) AS p50,
             quantile_cont(o_totalprice, 0.75) AS p75
      FROM orders GROUP BY 1 ORDER BY status"""))

  /** q19 — range (interval) join: orders binned into calendar
    * quarters via a non-equi date-range predicate against a small
    * broadcast range dimension (the general form of the PIT join's
    * interval membership, without an equi key). */
  private val q19 = QueryDef(
    "q19_range_join",
    (s, dir) => {
      val ranges = s.sql(
        """SELECT q_start, add_months(q_start, 3) AS q_end
          |FROM (SELECT explode(sequence(to_date('1992-01-01'),
          |        to_date('1998-10-01'), interval 3 month)) AS q_start)""".stripMargin)
      val o = table(s, dir, "orders")
      o.join(broadcast(ranges),
          o("o_orderdate") >= ranges("q_start") &&
          o("o_orderdate") < ranges("q_end"))
        .groupBy(col("q_start").as("quarter_start"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec2(col("o_totalprice"))).cast(DoubleType).as("revenue"))
        .orderBy(col("quarter_start"))
    },
    Some("""
      WITH ranges AS (
        SELECT CAST(unnest(generate_series(DATE '1992-01-01', DATE '1998-10-01',
                                           INTERVAL 3 MONTH)) AS DATE) AS q_start)
      SELECT q_start AS quarter_start, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders JOIN ranges
        ON o_orderdate >= q_start AND o_orderdate < q_start + INTERVAL 3 MONTH
      GROUP BY 1 ORDER BY quarter_start"""))

  /** q26 — GROUPING SETS (the general grouping-set surface beyond
    * q09 rollup / q14 cube), via the SQL entry point. */
  private val q26 = QueryDef(
    "q26_grouping_sets",
    (s, dir) => {
      table(s, dir, "orders").createOrReplaceTempView("v_orders26")
      s.sql("""
        SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
               COALESCE(o_orderstatus, 'ALL') AS status,
               COUNT(*) AS n
        FROM v_orders26
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        ORDER BY priority, status""")
    },
    Some("""
      SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
             COALESCE(o_orderstatus, 'ALL') AS status,
             COUNT(*) AS n
      FROM orders
      GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
      ORDER BY priority, status"""))

  /** q27 — left-semi join surface: customers that placed at least one
    * order, counted per market segment. */
  private val q27 = QueryDef(
    "q27_semi_join",
    (s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("segment"))
    },
    Some("""
      SELECT c_mktsegment AS segment, COUNT(*) AS n_customers
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      GROUP BY 1 ORDER BY segment"""))

  /** q28 — running-frame window surface: cumulative revenue and
    * inter-order gap per customer (sum over ROWS UNBOUNDED PRECEDING
    * + lag), decimal-exact accumulation. */
  private val q28 = QueryDef(
    "q28_running_total",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      table(s, dir, "orders")
        .withColumn("running_revenue",
          sum(dec2(col("o_totalprice")))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast(DoubleType))
        .withColumn("days_since_prev",
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
            .cast(LongType))
        .select(col("o_custkey").as("cust_key"),
          col("o_orderkey").as("order_key"),
          col("running_revenue"), col("days_since_prev"))
        .orderBy(col("cust_key"), col("order_key"))
    },
    Some("""
      SELECT o_custkey AS cust_key, o_orderkey AS order_key,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_revenue,
             CAST(date_diff('day',
               LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS BIGINT) AS days_since_prev
      FROM orders ORDER BY cust_key, order_key"""))

  /** q29 — correlated scalar subquery (Catalyst decorrelation):
    * each customer's maximum-value orders. */
  private val q29 = QueryDef(
    "q29_scalar_subquery",
    (s, dir) => {
      table(s, dir, "orders").createOrReplaceTempView("v_orders29")
      s.sql("""
        SELECT o_custkey AS cust_key, o_orderkey AS order_key,
               o_totalprice AS total_price
        FROM v_orders29 o
        WHERE o_totalprice = (SELECT MAX(o2.o_totalprice)
                              FROM v_orders29 o2
                              WHERE o2.o_custkey = o.o_custkey)
        ORDER BY cust_key, order_key""")
    },
    Some("""
      SELECT o_custkey AS cust_key, o_orderkey AS order_key,
             o_totalprice AS total_price
      FROM orders o
      WHERE o_totalprice = (SELECT MAX(o2.o_totalprice) FROM orders o2
                            WHERE o2.o_custkey = o.o_custkey)
      ORDER BY cust_key, order_key"""))

  val all: Seq[QueryDef] =
    Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q12, q13,
      q14, q15, q16, q17, q18, q19, q26, q27, q28, q29)
}
