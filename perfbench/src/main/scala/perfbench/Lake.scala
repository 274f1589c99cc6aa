package perfbench

import java.nio.file.{Path, Paths}
import java.sql.Timestamp
import java.time.LocalDate
import scala.collection.mutable
import scala.util.Try
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.operators.{CalendarDim, CleanJde, FactLoad, Scd2}
import graft.sources.{LakeIO, LakeZones}
import graft.types.Schemas

/** One landing day handed to the pipeline. */
final case class Landing(dir: Path, date: LocalDate, day: JdeGen.Day) {
  def now: Timestamp = Timestamp.valueOf(date.atStartOfDay())
  def loadId: String = date.toString
  def config: String = dir.resolve("source_config.json").toString
}

/** The medallion flow as the benchmark drives it: the untraced entry
  * point, a traced stage-by-stage replay of it, and Gold checksums. */
object Lake {

  val FirstValidFrom = "1900-01-01 00:00:00"

  def run(spark: SparkSession, zones: LakeZones, l: Landing): Unit =
    Pipeline.run(spark, zones, l.dir.toString, l.config, l.date, l.now)

  def star(spark: SparkSession, zones: LakeZones): Array[Row] =
    Pipeline.starTopK(spark, zones, 10).collect()

  /** The body of `Pipeline.run`, stage by stage, each in its own span.
    * Kept call-for-call equal to the entry point; [[checksums]] of the
    * Gold it leaves must equal the entry point's. Records into `written`
    * the (files, bytes) each stage added to the lake. */
  def replay(spark: SparkSession, zones: LakeZones, l: Landing, t: Tracer,
             written: mutable.Map[String, (Long, Long)]): Unit = {
    val root = Paths.get(zones.root)
    def stage[T](name: String)(body: => T): T = {
      val before = Fs.dataFiles(root)
      val r = t.span(name)(body)
      val fresh = Fs.dataFiles(root).filter { case (p, v) => !before.get(p).contains(v) }
      written(name) = (fresh.size.toLong, fresh.values.map(_._1).sum)
      r
    }
    val nowCol = lit(l.now).cast("timestamp")
    stage("bronze") {
      Pipeline.ingest(spark, zones, l.dir.toString,
        Pipeline.readConfig(spark, l.config), l.date)
    }
    stage("silver") {
      val f4211 = LakeIO.readBronze(spark, zones, "jde/F4211", Some(l.date))
        .select(Schemas.F4211.fieldNames.map(col).toIndexedSeq: _*)
      LakeIO.overwriteSilver(CleanJde(f4211), zones, "transactions")
    }
    val silver = stage("scd2") {
      val f0101 = LakeIO.readBronze(spark, zones, "jde/F0101", Some(l.date))
      val incoming = f0101.select(
        col("ABAN8").as("CustomerID"), col("ABALPH").as("CustomerName"),
        col("ABAT1").as("SearchType"), col("ABAC01").as("CategoryCode"))
      val spec = Scd2.Spec("CustomerKey", "CustomerID",
        Seq("CustomerName", "SearchType", "CategoryCode"))
      val dim0 = Try(LakeIO.readGold(spark, zones, "dim_customer"))
        .getOrElse(Scd2.emptyDim(spark, incoming, spec))
      val dim1 = Scd2.merge(dim0, incoming, spec, nowCol,
        newKeyValidFrom = Some(to_timestamp(lit(FirstValidFrom))))
      LakeIO.replaceGold(dim1, zones, "dim_customer")
      LakeIO.readSilver(spark, zones, "transactions")
    }
    stage("calendar") {
      LakeIO.overwriteGold(CalendarDim(spark), zones, "dim_date")
    }
    stage("fact") {
      val keyOffset: Long = Try {
        LakeIO.readGold(spark, zones, "fact_sales")
          .filter(col("load_id") =!= l.loadId)
          .agg(coalesce(max(col("SalesKey")), lit(0L))).head().getLong(0)
      }.getOrElse(0L)
      val fact = FactLoad.loadFactSales(silver,
        LakeIO.readGold(spark, zones, "dim_customer"),
        LakeIO.readGold(spark, zones, "dim_date"), nowCol, keyOffset)
      LakeIO.appendGoldRun(fact.drop("DateKeyValid"), zones, "fact_sales", l.loadId)
      LakeIO.readGold(spark, zones, "fact_sales")
    }
  }

  /** Order-independent checksum of every Gold table. */
  def checksums(spark: SparkSession, zones: LakeZones): Map[String, String] =
    Seq("dim_customer", "dim_date", "fact_sales").map { t =>
      val df = LakeIO.readGold(spark, zones, t)
      t -> df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*)
        .cast("decimal(38,0)"))).head().mkString(":")
    }.toMap

  /** Star rows as strings, decimals in plain notation, for run.py. */
  def rowStrings(rows: Array[Row]): Seq[Seq[String]] =
    rows.toSeq.map(_.toSeq.map(v => if (v == null) "None" else v match {
      case d: java.math.BigDecimal => d.toPlainString
      case other => other.toString
    }))
}
