package graft

import java.time.LocalDate
import java.util.concurrent.{Callable, ExecutionException, Executors}
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.{CalendarDim, CleanJde, FactLoad, Scd2}
import graft.sources.{LakeIO, LakeZones}
import graft.types.Schemas

/** C1 + C7 — metadata-driven ingestion and the Bronze→Silver→Gold
  * orchestration (SURVEY.md §2.6, §3.1).
  *
  * The reference drives ingestion from a JSON config array
  * (`config/source_config.json`) through a 4-way-parallel ForEach of
  * CSV→Parquet copies (`PL_Ingest_Bronze.json:49-110`), then chains
  * Silver and Gold transforms on success with retry policies
  * (`PL_Master.json:6-69`). Here each stage is a pure DataFrame
  * function; stage boundaries are lake writes; retries/alerts are a
  * plain wrapper (the documented-but-absent OnFailure alert webhook —
  * SURVEY.md C7 — becomes an injectable callback).
  *
  * [[run]] is a dependency graph, not a chain: after the Bronze
  * barrier, the Silver decode, the SCD2 merge, the calendar dimension
  * and the fact key-offset probe run concurrently, and the fact load
  * runs once all four have settled. The reference orders Clean before
  * SCD2 only as an ADF control step (`PL_Transform_Silver.json:55-61`);
  * no data flows between them. Running the branches together is sound
  * because they share no input that another branch writes and write
  * disjoint tables — keep that invariant when adding a branch. Both
  * fan-outs, [[ingest]]'s and [[run]]'s, go through [[settleAll]].
  */
object Pipeline {

  /** One entry of the ingestion config
    * (`config/source_config.json:1-12`). */
  final case class SourceSpec(sourceFile: String, sinkPath: String,
                              description: String)

  /** Schema registry for known JDE tables (imposed at the CSV edge —
    * the reference infers; we pin the declared projection). */
  val SchemaFor: Map[String, StructType] = Map(
    "F0101" -> Schemas.F0101,
    "F4211" -> Schemas.F4211)

  /** Silver and Gold table contracts: `Pipeline` reads these tables
    * through them and checks every frame it writes to them first. */
  val ContractFor: Map[String, StructType] = Map(
    "transactions" -> Schemas.SilverTransactions,
    "dim_customer" -> Schemas.DimCustomer,
    "dim_date" -> Schemas.DimDate,
    "fact_sales" -> Schemas.FactSales)

  private def readGold(spark: SparkSession, zones: LakeZones, table: String): DataFrame =
    LakeIO.readGold(spark, zones, table, Some(ContractFor(table)))

  /** Checks `df` against `table`'s contract, then hands it on. */
  private def conforming(table: String)(df: DataFrame): DataFrame = {
    Schemas.requireConforms(table, df.schema, ContractFor(table))
    df
  }

  /** The ingestion config, read through [[Schemas.SourceConfig]]. A
    * schema read turns a missing or misspelled key into null, so every
    * field must be present: a bad entry fails naming itself. */
  def readConfig(spark: SparkSession, path: String): Seq[SourceSpec] = {
    import spark.implicits._
    LakeIO.readJsonConfig(spark, path, Schemas.SourceConfig)
      .as[(String, String, String)]
      .collect()
      .toSeq
      .zipWithIndex
      .map { case ((f, p, d), i) =>
        val missing = Schemas.SourceConfig.fieldNames.zip(Seq(f, p, d))
          .collect { case (name, null) => name }
        require(missing.isEmpty,
          s"$path entry ${i + 1} lacks ${missing.mkString(", ")}")
        SourceSpec(f, p, d)
      }
  }

  /** Runs `branches` at most `parallelism` at a time and waits for
    * every one of them to finish, successful or not. Then it rethrows
    * the first failure in `branches` order, with the later ones
    * attached as suppressed; fatal errors included.
    *
    * The pool is created per call, from the calling thread, so each
    * branch thread inherits the caller's active `SparkSession` and
    * Spark local properties. Settling every branch before rethrowing
    * means a caller's retry never starts while a sibling is still
    * writing. */
  private[graft] def settleAll(parallelism: Int)(branches: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(parallelism)
    try {
      val running = branches.map(b => pool.submit(new Callable[Unit] { def call(): Unit = b() }))
      val failures = running.flatMap { f =>
        try { f.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.filter(_ ne first).foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
  }

  /** C1 — ingest every configured CSV into time-partitioned Bronze,
    * `parallelism`-way concurrent (reference ForEach batchCount=4,
    * `PL_Ingest_Bronze.json:53-54`). Spark schedules the jobs
    * concurrently from the driver; each file's read→write is an
    * independent job. A failed file fails the call only after every
    * other file has settled ([[settleAll]]). */
  def ingest(spark: SparkSession, zones: LakeZones, landingDir: String,
             specs: Seq[SourceSpec], ingestDate: LocalDate,
             parallelism: Int = 4): Unit =
    settleAll(parallelism)(specs.map { spec => () =>
      val table = spec.sourceFile.stripSuffix(".csv")
      val schema = SchemaFor.getOrElse(table,
        sys.error(s"no schema registered for $table"))
      val df = LakeIO.readCsv(spark, s"$landingDir/${spec.sourceFile}", schema)
      LakeIO.writeBronze(df, zones, spec.sinkPath, ingestDate)
    })

  /** C7 retry wrapper: `attempts` total tries, `onFailure` alert hook
    * with the reference's webhook payload shape (message, stage —
    * `docs/technical_report.md:344-369`). */
  def withRetry[T](stage: String, attempts: Int = 2,
                   onFailure: (String, Throwable) => Unit = (_, _) => ())(
      body: => T): T = {
    var last: Throwable = null
    (1 to attempts).foreach { _ =>
      Try(body) match {
        case Success(v) => return v
        case Failure(e) => last = e
      }
    }
    onFailure(stage, last)
    throw last
  }

  /** The SCD2 step of [[run]]: merges an F0101 batch into the customer
    * dimension (`dim` is `None` on the first load) and returns the
    * complete next dimension state. */
  def mergeCustomers(spark: SparkSession, dim: Option[DataFrame], f0101: DataFrame,
                     now: Column): DataFrame = {
    val incoming = f0101.select(
      col("ABAN8").as("CustomerID"), col("ABALPH").as("CustomerName"),
      col("ABAT1").as("SearchType"), col("ABAC01").as("CategoryCode"))
    val spec = Scd2.Spec("CustomerKey", "CustomerID",
      Seq("CustomerName", "SearchType", "CategoryCode"))
    // first-ever key versions get beginning-of-time validity so
    // historical facts resolve in the PIT join (SURVEY.md §7.4.3)
    Scd2.merge(dim.getOrElse(Scd2.emptyDim(spark, incoming, spec)), incoming, spec, now,
      newKeyValidFrom = Some(to_timestamp(lit("1900-01-01 00:00:00"))))
  }

  /** Full Bronze→Silver→Gold run (entry point 1, SURVEY.md §3.1).
    * Returns the loaded fact frame for inspection.
    *
    * The schedule is a graph (see [[Pipeline]]):
    *  1. Bronze ingest, a barrier;
    *  1. four concurrent branches: the Silver decode
    *     (`silver/transactions`), the SCD2 merge (`gold/dim_customer`),
    *     the calendar (`gold/dim_date`) and the fact key-offset probe
    *     (reads `gold/fact_sales`, writes nothing);
    *  1. the fact load, which reads all four outputs.
    *
    * Each branch is retried and alerted on its own, under its stage
    * name: decode and SCD2 as `silver`, calendar and key probe as
    * `gold`, the fact load as `gold`. Alerts are serialized, so
    * `onFailure` need not be thread-safe. A failed branch fails the
    * run once its siblings have settled, and the fact load does not
    * start. */
  def run(spark: SparkSession, zones: LakeZones, landingDir: String,
          configPath: String, ingestDate: LocalDate,
          now: java.sql.Timestamp,
          onFailure: (String, Throwable) => Unit = (_, _) => ()): DataFrame = {
    val nowCol = lit(now).cast("timestamp")
    val loadId = ingestDate.toString
    val alertLock = new Object
    val alert: (String, Throwable) => Unit =
      (stage, e) => alertLock.synchronized(onFailure(stage, e))

    withRetry("bronze", onFailure = alert) {
      ingest(spark, zones, landingDir, readConfig(spark, configPath), ingestDate)
    }

    // written by the probe branch; settleAll's wait on that branch
    // orders the write before the fact load reads it
    var keyOffset = 0L
    val branches: Seq[() => Unit] = Seq(
      () => withRetry("silver", onFailure = alert) {
        val f4211 = LakeIO.readBronze(spark, zones, "jde/F4211", Some(ingestDate),
            Some(Schemas.F4211))
          .select(Schemas.F4211.fieldNames.map(col).toIndexedSeq: _*)
        LakeIO.overwriteSilver(conforming("transactions")(CleanJde(f4211)),
          zones, "transactions")
      },
      () => withRetry("silver", onFailure = alert) {
        val f0101 = LakeIO.readBronze(spark, zones, "jde/F0101", Some(ingestDate),
          Some(Schemas.F0101))
        // only an absent table means a first load: any read error must
        // fail the stage, not re-seed the dimension from CustomerKey 1
        val dim0 = LakeIO.readIfPresent(spark, zones.gold("dim_customer"),
          Some(ContractFor("dim_customer")))
        val dim1 = mergeCustomers(spark, dim0, f0101, nowCol)
        // read-modify-write: materialize to a staging dir, then swap —
        // the live dir stays intact while the job reads from it
        LakeIO.replaceGold(conforming("dim_customer")(dim1), zones, "dim_customer")
      },
      () => withRetry("gold", onFailure = alert) {
        LakeIO.overwriteGold(conforming("dim_date")(CalendarDim(spark)), zones, "dim_date")
      },
      () => withRetry("gold", onFailure = alert) {
        // IDENTITY(1,1) continuation: seed SalesKey from the existing
        // fact's max so incremental loads never reuse keys (ADVICE r01);
        // exclude this run's own load_id so a retry re-assigns the SAME
        // key range instead of stacking on its partial previous attempt.
        // Only an absent table starts at 0: a read error fails the stage.
        keyOffset = LakeIO.readIfPresent(spark, zones.gold("fact_sales"),
            Some(ContractFor("fact_sales")))
          .fold(0L)(_.filter(col("load_id") =!= loadId)
            .agg(coalesce(max(col("SalesKey")), lit(0L))).head().getLong(0))
      })
    settleAll(branches.size)(branches)

    withRetry("gold", onFailure = alert) {
      val fact = FactLoad.loadFactSales(
        LakeIO.readSilver(spark, zones, "transactions", Some(ContractFor("transactions"))),
        readGold(spark, zones, "dim_customer"),
        readGold(spark, zones, "dim_date"),
        nowCol, keyOffset)
      // dynamic-partition overwrite of this run's load_id partition:
      // retries replace, not duplicate (idempotent append — ADVICE r01)
      LakeIO.appendGoldRun(
        conforming("fact_sales")(fact.drop("DateKeyValid")),
        zones, "fact_sales", loadId)
      readGold(spark, zones, "fact_sales")
    }
  }

  /** C6 — the flagship consumption query: top-k revenue with both
    * dims (`load_gold_data.sql:115-128`). */
  def starTopK(spark: SparkSession, zones: LakeZones, k: Int = 10): DataFrame = {
    val fact = readGold(spark, zones, "fact_sales")
    val dimC = broadcast(readGold(spark, zones, "dim_customer"))
    val dimD = broadcast(readGold(spark, zones, "dim_date"))
    fact.join(dimC, "CustomerKey")
      .join(dimD, "DateKey")
      .select(col("OrderNumber"), col("CustomerName"), col("FullDate"),
        col("ItemNumber"), col("Quantity"), col("ExtendedAmount"))
      .orderBy(col("ExtendedAmount").desc, col("OrderNumber"))
      .limit(k)
  }
}
