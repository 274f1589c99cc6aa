package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.JdeFunctions.dateToJulian

/** Deterministic JD Edwards landing generator.
  *
  * Every value is an `xxhash64` of (seed, salt, row id), the rule
  * `graft.ScaleGen` follows, so a seed fixes every byte of the CSVs
  * regardless of partitioning. Quirk shares are exact, not sampled:
  * rows are cut into blocks of the share's denominator and the hash of
  * (seed, salt, block) picks the one flagged row of each block, so
  * `n / 200` rows carry an invalid `CYYDDD` date whenever 200 divides n.
  * Orphan customers sit on odd positions and invalid dates on even
  * ones, so no row is both: an undecodable date also leaves a row
  * without a point-in-time customer, and the two counts stay separable.
  *
  * Per day it writes `F0101.csv` (address book), `F4211.csv` (sales
  * detail) and the ingestion config `source_config.json` that
  * `graft.Pipeline.run` reads.
  */
object JdeGen {

  /** Customer-master and order-batch sizes of one landing day. */
  final case class Day(index: Int, customers: Long, orders: Long)

  /** Seeded quirk denominators: one flagged row per block of this size. */
  val InvalidDateEvery = 200L // 0.5%
  val OrphanEvery = 100L      // 1%
  val ZeroQtyEvery = 1000L    // 0.1%
  val ChangedEvery = 20L      // 5% of day-1 keys change attributes on day 2
  val NewKeyEvery = 100L      // day 2 adds 1% new keys

  val CustomerBase = 100000
  val OrphanBase = 900000000
  val OrderBase = 1000000
  val OrdersPerDay = 10000000L

  /** The quirk counts the generator plants in one day's files. */
  final case class Seeded(customers: Long, orders: Long, invalidDates: Long,
                          orphans: Long, zeroQty: Long, newKeys: Long,
                          changedKeys: Long, unchangedKeys: Long)

  /** Day 1 lands `customers` keys; later days re-send them (5% changed)
    * plus 1% new keys, so the SCD2 merge has all three branches. */
  def seeded(day: Day): Seeded = {
    require(day.orders % ZeroQtyEvery == 0 && day.customers % ZeroQtyEvery == 0,
      s"sizes must be multiples of $ZeroQtyEvery for exact quirk shares: $day")
    val first = day.index == 1
    val newKeys = if (first) day.customers else day.customers / NewKeyEvery
    val changed = if (first) 0L else day.customers / ChangedEvery
    Seeded(
      customers = if (first) day.customers else day.customers + newKeys,
      orders = day.orders,
      invalidDates = day.orders / InvalidDateEvery,
      orphans = day.orders / OrphanEvery,
      zeroQty = day.orders / ZeroQtyEvery,
      newKeys = newKeys,
      changedKeys = changed,
      unchangedKeys = if (first) 0L else day.customers - changed)
  }

  private def h(seed: Long, salt: String, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)

  private def ui(seed: Long, salt: String, n: Long, cols: Column*): Column =
    pmod(h(seed, salt, cols: _*), lit(n))

  /** True on exactly one row per block of `every` consecutive ids, at
    * an even (`odd = false`) or odd position of the block: flags of
    * opposite parity never fall on the same row. */
  private def flagged(seed: Long, salt: String, every: Long, id: Column,
                      odd: Boolean = false): Column =
    pmod(id, lit(every)) ===
      ui(seed, salt, every / 2, floor(id / every)) * 2 + (if (odd) 1 else 0)

  private def pick(choices: Seq[String], idx: Column): Column =
    element_at(array(choices.map(lit): _*), (idx + 1).cast("int"))

  /** F0101 of `day`: keys `0 until customers` (plus day 2's new keys). */
  def customers(spark: SparkSession, seed: Long, day: Day): DataFrame = {
    val s = seeded(day)
    val id = col("id")
    val changed = lit(day.index > 1) && id < day.customers &&
      flagged(seed, "chg", ChangedEvery, id)
    val name = concat(lit("Customer "), upper(hex(h(seed, "name", id))))
    spark.range(s.customers).select(
      (lit(CustomerBase) + id).cast("int").as("ABAN8"),
      when(changed, concat(name, lit(" rev2"))).otherwise(name).as("ABALPH"),
      pick(Seq("C", "V", "E"), ui(seed, "at1", 3, id)).as("ABAT1"),
      pick(Seq("100", "200", "300", "400", "500"), ui(seed, "ac01", 5, id)).as("ABAC01"),
      dateToJulian(date_add(lit("2015-01-01").cast("date"),
        ui(seed, "upmj", 3000, id).cast("int"))).as("ABUPMJ"))
  }

  /** F4211 of `day`: order lines dated 2022–2024, with the seeded
    * invalid dates, orphan customers and zero quantities. */
  def orders(spark: SparkSession, seed: Long, day: Day): DataFrame = {
    val known = seeded(day).customers
    val id = col("id")
    val gid = id + lit(day.index * OrdersPerDay)
    val validDate = dateToJulian(date_add(lit("2022-01-01").cast("date"),
      ui(seed, "date", 1095, gid).cast("int")))
    // day-of-year 000 or 399 never decodes
    val invalidDate = lit(122000) + ui(seed, "bad", 2, gid).cast("int") * 399
    val qty = when(flagged(seed, "zero", ZeroQtyEvery, id), lit(0L))
      .otherwise(ui(seed, "qty", 10000, gid) + 1)
    val priceCents = ui(seed, "price", 99900, gid) + 100
    spark.range(day.orders).select(
      (lit(OrderBase) + gid).cast("int").as("SDDOCO"),
      lit("SO").as("SDDCTO"),
      when(flagged(seed, "orphan", OrphanEvery, id, odd = true),
        lit(OrphanBase) + ui(seed, "okey", 1000000, gid))
        .otherwise(lit(CustomerBase) + ui(seed, "cust", known, gid))
        .cast("int").as("SDAN8"),
      concat(lit("ITEM-"), lpad(ui(seed, "item", 5000, gid).cast("string"), 5, "0"))
        .as("SDLITM"),
      when(flagged(seed, "date", InvalidDateEvery, id), invalidDate)
        .otherwise(validDate).cast("int").as("SDTRDJ"),
      qty.cast("int").as("SDUORG"),
      // implicit 2-decimal amount: qty (hundredths) × price (cents) / 100
      floor(qty * priceCents / 100).cast("int").as("SDAEXP"))
  }

  val Config: String =
    """[{"sourceFile":"F0101.csv","sinkPath":"jde/F0101","description":"Address Book"},
      | {"sourceFile":"F4211.csv","sinkPath":"jde/F4211","description":"Sales Detail"}]
      |""".stripMargin

  /** Writes one landing day into `dir` (created fresh) and returns the
    * CSV bytes written. */
  def writeDay(spark: SparkSession, seed: Long, day: Day, dir: Path): Long = {
    Files.createDirectories(dir)
    writeCsv(customers(spark, seed, day), dir.resolve("F0101.csv"))
    writeCsv(orders(spark, seed, day), dir.resolve("F4211.csv"))
    Files.writeString(dir.resolve("source_config.json"), Config)
    Files.size(dir.resolve("F0101.csv")) + Files.size(dir.resolve("F4211.csv"))
  }

  /** One CSV file in row-id order: coalesce keeps `range`'s order. */
  private def writeCsv(df: DataFrame, target: Path): Unit = {
    val tmp = Paths.get(target.toString + ".parts")
    Fs.delete(tmp)
    df.coalesce(1).write.option("header", "true").csv(tmp.toString)
    val part = Fs.list(tmp).find(p =>
      p.getFileName.toString.startsWith("part-")).get
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    Fs.delete(tmp)
  }
}
