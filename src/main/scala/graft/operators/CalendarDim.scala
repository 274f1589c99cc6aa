package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.JdeFunctions._

/** Composite C5 — the calendar dimension (Dim_Date).
  *
  * The reference materializes this with a T-SQL WHILE loop
  * (`sql_scripts/dim_date.sql:35-63`, 7,671 rows for
  * 2020-01-01..2040-12-31). Spark-native: one `sequence` + `explode`
  * (a single narrow stage, no shuffle) and pure Catalyst date
  * expressions for the attributes (J3, J12–J15).
  *
  * Week numbering is pinned to ISO (`weekofyear`); T-SQL
  * `DATEPART(WEEK)` diverges on year-boundary weeks — documented
  * divergence (SURVEY.md §7.4.7). `DayOfWeekNumber` keeps the T-SQL
  * default `@@DATEFIRST 7` convention: 1=Sunday..7=Saturday, which is
  * exactly Spark's `dayofweek`.
  */
object CalendarDim {

  def apply(spark: SparkSession,
            start: String = "2020-01-01",
            end: String = "2040-12-31"): DataFrame = {
    val days = spark.range(1).select(
      explode(sequence(
        to_date(lit(start)), to_date(lit(end)),
        expr("interval 1 day"))).as("FullDate"))
    days.select(
      dateKey(col("FullDate")).as("DateKey"),
      col("FullDate"),
      dayofmonth(col("FullDate")).as("DayOfMonth"),
      date_format(col("FullDate"), "EEEE").as("DayOfWeekName"),
      dayofweek(col("FullDate")).as("DayOfWeekNumber"),
      weekofyear(col("FullDate")).as("WeekOfYear"),
      month(col("FullDate")).as("MonthNumber"),
      date_format(col("FullDate"), "MMMM").as("MonthName"),
      quarter(col("FullDate")).as("Quarter"),
      year(col("FullDate")).as("Year"),
      isWeekend(col("FullDate")).as("IsWeekend"),
      isLeapYear(col("FullDate")).as("IsLeapYear"),
      // Fiscal calendar == calendar quarters in the reference
      // (`sql_scripts/dim_date.sql:59`).
      quarter(col("FullDate")).as("FiscalQuarter"),
      year(col("FullDate")).as("FiscalYear"))
  }
}
