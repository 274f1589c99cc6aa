package graft

import java.sql.Timestamp
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{CalendarDim, CleanJde, FactLoad}
import graft.sources.{LakeIO, LakeZones}
import graft.types.Schemas

/** The declared contracts (`types/Schemas.scala`) are what the
  * producing operators emit, what `Pipeline` writes, and what its
  * reads impose — and a contract read launches no Spark job. */
class ContractSpec extends SparkSpec {

  private def frame(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)

  private val f4211 = frame(Schemas.F4211,
    Row(1, "SO", 10000, "A1", 124001, 200, 2500),
    Row(2, "SO", 10001, "A2", 124999, 0, 100))

  private def f0101(category: String) = frame(Schemas.F0101,
    Row(10000, "Company 0", "C", category, 124001),
    Row(10001, "Company 1", "C", "200", 124001))

  private def conforms(df: DataFrame, contract: StructType): Unit =
    Schemas.requireConforms("t", df.schema, contract)

  private val day1 = lit(Timestamp.valueOf("2024-06-01 00:00:00"))
  private val day2 = lit(Timestamp.valueOf("2024-06-02 00:00:00"))

  test("each producing operator emits its contract") {
    val silver = CleanJde(f4211)
    conforms(silver, Schemas.SilverTransactions)

    val seeded = Pipeline.mergeCustomers(spark, None, f0101("100"), day1)
    conforms(seeded, Schemas.DimCustomer)
    val merged = Pipeline.mergeCustomers(spark, Some(seeded.localCheckpoint()),
      f0101("999"), day2)
    assert(merged.filter(col("IsActive")).count() == 2) // the merge path ran
    assert(merged.count() == 3)
    conforms(merged, Schemas.DimCustomer)

    val dimDate = CalendarDim(spark)
    conforms(dimDate, Schemas.DimDate)
    conforms(FactLoad.loadFactSales(silver, merged, dimDate, day2).drop("DateKeyValid"),
      Schemas.FactSales)
  }

  test("the check names a renamed or retyped column") {
    val silver = CleanJde(f4211)
    val renamed = intercept[IllegalArgumentException] {
      conforms(silver.withColumnRenamed("Quantity", "Qty"), Schemas.SilverTransactions)
    }
    assert(renamed.getMessage.contains("`Quantity`") && renamed.getMessage.contains("`Qty`"),
      renamed.getMessage)
    val retyped = intercept[IllegalArgumentException] {
      conforms(silver.withColumn("UnitPrice", col("UnitPrice").cast("double")),
        Schemas.SilverTransactions)
    }
    assert(retyped.getMessage.contains("`UnitPrice` double"), retyped.getMessage)
    val short = intercept[IllegalArgumentException] {
      conforms(silver.drop("UnitPrice"), Schemas.SilverTransactions)
    }
    assert(short.getMessage.contains("found nothing"), short.getMessage)
    // nullability is not part of the check
    conforms(silver, StructType(Schemas.SilverTransactions.map(_.copy(nullable = false))))
  }

  test("a contract read launches no job; an inferring read does") {
    val zones = LakeZones(tempDir("graft_contract"))
    LakeIO.overwriteSilver(CleanJde(f4211), zones, "transactions")
    assert(JobCount(spark) {
      LakeIO.readSilver(spark, zones, "transactions", Some(Schemas.SilverTransactions))
    } == 0)
    assert(JobCount(spark)(LakeIO.readSilver(spark, zones, "transactions")) >= 1)
  }

  test("on a loaded lake, contract reads match inference and starTopK plans jobless") {
    val landing = tempDir("graft_contract_landing")
    val zones = LakeZones(tempDir("graft_contract_lake"))
    PipelineDemo.writeLanding(landing)
    Pipeline.run(spark, zones, landing, s"$landing/source_config.json",
      LocalDate.of(2024, 6, 1), Timestamp.valueOf("2024-06-01 00:00:00"))
    // partition columns (load_id) are still discovered, with the same types
    Pipeline.ContractFor.foreach { case (table, contract) =>
      val (read, inferred) =
        if (table == "transactions")
          (LakeIO.readSilver(spark, zones, table, Some(contract)),
            LakeIO.readSilver(spark, zones, table))
        else (LakeIO.readGold(spark, zones, table, Some(contract)),
          LakeIO.readGold(spark, zones, table))
      Schemas.requireConforms(table, read.schema, inferred.schema)
    }
    Seq("jde/F0101" -> Schemas.F0101, "jde/F4211" -> Schemas.F4211).foreach {
      case (table, contract) =>
        Schemas.requireConforms(table,
          LakeIO.readBronze(spark, zones, table, schema = Some(contract)).schema,
          LakeIO.readBronze(spark, zones, table).schema)
    }
    assert(JobCount(spark)(Pipeline.starTopK(spark, zones, 10)) == 0)
    assert(Pipeline.starTopK(spark, zones, 10).collect().length == 10)
  }
}
