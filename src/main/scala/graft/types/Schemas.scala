package graft.types

import org.apache.spark.sql.types._

/** The reference's entity contracts as explicit StructTypes
  * (SURVEY.md §1.4). Sources are read with imposed schemas — the
  * reference declares fixed projections but permits drift
  * (`allowSchemaDrift: true`, `adf/dataflow/DF_Clean_JDE.json:66-67`);
  * we impose the projection at read time and tolerate extra columns
  * by selecting declared names only.
  *
  * `Pipeline` reads every medallion table through its contract (no
  * footer-inference job per read) and checks every frame it writes
  * against the contract first ([[requireConforms]]), so a contract
  * read returns exactly what was written. Contracts hold data columns
  * only: partition columns (`ingest_*`, `load_id`) are discovered from
  * the directory names, with their inferred types.
  */
object Schemas {

  /** F0101 Address Book Master (`generate_jde_data.py:49-72`,
    * `DF_SCD2_Customer.json:110-116`). */
  val F0101: StructType = StructType(Seq(
    StructField("ABAN8", IntegerType, nullable = false),
    StructField("ABALPH", StringType),
    StructField("ABAT1", StringType),
    StructField("ABAC01", StringType),
    StructField("ABUPMJ", IntegerType)))

  /** F4211 Sales Order Detail (`generate_jde_data.py:79-113`,
    * `DF_Clean_JDE.json:57-65`). */
  val F4211: StructType = StructType(Seq(
    StructField("SDDOCO", IntegerType, nullable = false),
    StructField("SDDCTO", StringType),
    StructField("SDAN8", IntegerType),
    StructField("SDLITM", StringType),
    StructField("SDTRDJ", IntegerType),
    StructField("SDUORG", IntegerType),
    StructField("SDAEXP", IntegerType)))

  private val money = DecimalType(18, 2)

  /** Silver transactions — CleanJde output contract
    * (`DF_Load_FactSales.json:82-94`). */
  val SilverTransactions: StructType = StructType(Seq(
    StructField("OrderNumber", IntegerType, nullable = false),
    StructField("OrderType", StringType),
    StructField("CustomerID", IntegerType),
    StructField("ItemNumber", StringType),
    StructField("OrderDate", DateType),
    StructField("DateKey", IntegerType),
    StructField("Quantity", money),
    StructField("ExtendedAmount", money),
    StructField("UnitPrice", money)))

  /** Gold.Dim_Customer SCD2 (`sql_scripts/dim_customer.sql:21-44`). */
  val DimCustomer: StructType = StructType(Seq(
    StructField("CustomerKey", LongType, nullable = false),
    StructField("CustomerID", IntegerType, nullable = false),
    StructField("CustomerName", StringType),
    StructField("SearchType", StringType),
    StructField("CategoryCode", StringType),
    StructField("IsActive", BooleanType, nullable = false),
    StructField("ValidFrom", TimestampType, nullable = false),
    StructField("ValidTo", TimestampType),
    StructField("RowHash", StringType, nullable = false),
    StructField("CreatedDate", TimestampType),
    StructField("ModifiedDate", TimestampType)))

  /** Gold.Fact_Sales (`sql_scripts/fact_sales.sql:22-48`). */
  val FactSales: StructType = StructType(Seq(
    StructField("SalesKey", LongType, nullable = false),
    StructField("CustomerKey", LongType),
    StructField("DateKey", IntegerType),
    StructField("OrderNumber", IntegerType),
    StructField("OrderType", StringType),
    StructField("ItemNumber", StringType),
    StructField("Quantity", money),
    StructField("ExtendedAmount", money),
    StructField("UnitPrice", money),
    StructField("LoadDate", TimestampType)))

  /** Gold.Dim_Date — the [[graft.operators.CalendarDim]] output
    * (`sql_scripts/dim_date.sql:16-31`). */
  val DimDate: StructType = StructType(Seq(
    StructField("DateKey", IntegerType),
    StructField("FullDate", DateType),
    StructField("DayOfMonth", IntegerType),
    StructField("DayOfWeekName", StringType),
    StructField("DayOfWeekNumber", IntegerType),
    StructField("WeekOfYear", IntegerType),
    StructField("MonthNumber", IntegerType),
    StructField("MonthName", StringType),
    StructField("Quarter", IntegerType),
    StructField("Year", IntegerType),
    StructField("IsWeekend", BooleanType),
    StructField("IsLeapYear", BooleanType),
    StructField("FiscalQuarter", IntegerType),
    StructField("FiscalYear", IntegerType)))

  /** One entry of the ingestion config (`config/source_config.json`). */
  val SourceConfig: StructType = StructType(Seq(
    StructField("sourceFile", StringType),
    StructField("sinkPath", StringType),
    StructField("description", StringType)))

  /** Driver-only contract check (reads the analyzed schema, runs no
    * job): `actual`'s column names and types, in order, must equal
    * `contract`'s. Nullability is ignored — Spark reads parquet back
    * as nullable anyway. Fails naming the first drifted column, so a
    * renamed or retyped column cannot reach the lake and come back
    * from a contract read as all-null. */
  def requireConforms(table: String, actual: StructType, contract: StructType): Unit = {
    def show(f: Option[StructField]) =
      f.fold("nothing")(f => s"`${f.name}` ${f.dataType.simpleString}")
    (0 until math.max(actual.length, contract.length)).find { i =>
      actual.fields.lift(i).map(f => (f.name, f.dataType)) !=
        contract.fields.lift(i).map(f => (f.name, f.dataType))
    }.foreach { i =>
      throw new IllegalArgumentException(
        s"$table drifted from its contract at column ${i + 1}: expected " +
          s"${show(contract.fields.lift(i))}, found ${show(actual.fields.lift(i))}")
    }
  }
}
