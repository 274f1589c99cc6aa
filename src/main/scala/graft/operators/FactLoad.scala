package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Composite C4 — point-in-time (as-of interval) fact load.
  *
  * Resolves each silver transaction to the dimension version whose
  * `[ValidFrom, ValidTo)` validity interval contains the order date.
  * Reference: `adf/dataflow/DF_Load_FactSales.json:81-154` and the
  * T-SQL formulation `sql_scripts/fact_sales.sql:10-14`
  * (`OrderDate >= ValidFrom AND OrderDate < ISNULL(ValidTo,
  * '9999-12-31')`).
  *
  * Semantics pinned (SURVEY.md §7.4.3):
  *  - T-SQL comparison semantics — the order date is compared as a
  *    timestamp against the UNtruncated ValidFrom/ValidTo (the ADF
  *    variant truncates with `toDate()`, which double-matches orders
  *    landing on a version-change day — documented divergence);
  *  - half-open interval, `ValidTo IS NULL` = +infinity via
  *    `coalesce` (a null-propagating `<` would silently drop rows);
  *  - expressed as ONE equi-join with a residual range predicate, so
  *    Catalyst plans a (broadcast) hash join on the business key with
  *    the interval as a post-join filter — not a BNLJ.
  *
  * The reference's own shape is left-join-then-filter, which silently
  * DROPS matched orders whose date falls outside every version range
  * (they match, so no null row survives the filter). Our default
  * keeps such orders with a null surrogate key (true left as-of
  * semantics); `faithful=true` reproduces the reference behavior for
  * differential testing.
  */
object FactLoad {

  private val EndOfTime = to_timestamp(lit("9999-12-31 00:00:00"))

  /** The interval-membership predicate J9 (half-open). */
  def pitPredicate(orderDate: Column, validFrom: Column, validTo: Column): Column = {
    val ts = orderDate.cast(TimestampType)
    ts >= validFrom && ts < coalesce(validTo, EndOfTime)
  }

  /** Point-in-time join: resolve `CustomerKey` for each silver row.
    *
    * @param silver      clean transactions (CleanJde contract)
    * @param dimCustomer SCD2 dimension (CustomerKey, CustomerID,
    *                    ValidFrom, ValidTo, …)
    * @param faithful    reproduce the reference's drop-on-no-valid-
    *                    version behavior instead of keeping the row
    *                    with a null key
    */
  def pointInTimeJoin(silver: DataFrame, dimCustomer: DataFrame,
                      faithful: Boolean = false): DataFrame = {
    val dim = broadcast(dimCustomer.select(
      col("CustomerKey"),
      col("CustomerID").as("_dimCustomerID"),
      col("ValidFrom").as("_vf"),
      col("ValidTo").as("_vt")))
    val cond = silver("CustomerID") === dim("_dimCustomerID") &&
      pitPredicate(silver("OrderDate"), dim("_vf"), dim("_vt"))
    val joined = silver.join(dim, cond, "left")
      .drop("_dimCustomerID", "_vf", "_vt")
    if (faithful) {
      // Reference: broadcast left join on CustomerID alone, THEN the
      // interval filter (`DF_Load_FactSales.json:112-120`) — matched
      // orders with no valid version vanish entirely.
      joined.filter(col("CustomerKey").isNotNull)
        .unionByName(
          silver.join(dim, silver("CustomerID") === dim("_dimCustomerID"), "left_anti")
            .withColumn("CustomerKey", lit(null).cast("long")))
    } else joined
  }

  /** Full fact load: PIT-resolve CustomerKey, validate DateKey against
    * Dim_Date (J-d), assign SalesKey surrogates, stamp LoadDate.
    * Returns the Fact_Sales contract
    * (`sql_scripts/fact_sales.sql:22-48`).
    *
    * @param keyOffset highest SalesKey already present in the fact
    *                  table (0 for a first load) — SalesKey continues
    *                  from it, preserving the IDENTITY(1,1) uniqueness
    *                  contract across incremental appends. */
  def loadFactSales(silver: DataFrame, dimCustomer: DataFrame,
                    dimDate: DataFrame, loadDate: Column,
                    keyOffset: Long = 0L): DataFrame = {
    val withCk = pointInTimeJoin(silver, dimCustomer)
    // Dim-key validation join (left — unmatched DateKeys survive with
    // the fact row; reference `DF_Load_FactSales.json:106-110,126-130`).
    val dd = broadcast(dimDate.select(col("DateKey").as("_ddk")))
    val validated = withCk
      .join(dd, withCk("DateKey") === dd("_ddk"), "left")
      .withColumn("DateKeyValid", col("_ddk").isNotNull)
      .drop("_ddk")
    Ids.addContiguousIds(
        validated, Seq(col("OrderNumber"), col("ItemNumber")), "SalesKey",
        keyOffset)
      .withColumn("LoadDate", loadDate)
      .select(col("SalesKey"), col("CustomerKey"), col("DateKey"),
        col("OrderNumber"), col("OrderType"), col("ItemNumber"),
        col("Quantity"), col("ExtendedAmount"), col("UnitPrice"),
        col("LoadDate"), col("DateKeyValid"))
  }
}
