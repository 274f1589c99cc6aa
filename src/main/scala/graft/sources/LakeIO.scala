package graft.sources

import java.time.LocalDate
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.Checkpoints

/** Lake-zone IO — the reference's source/sink surface (SURVEY.md
  * §2.1) on a medallion directory convention:
  *
  *   <root>/bronze/<table>/ingest_year=Y/ingest_month=M/ingest_day=D/
  *   <root>/silver/<domain>/
  *   <root>/gold/<table>/
  *
  * Bronze is time-partitioned (reference path convention
  * `01-bronze/jde/<Table>/<yyyy>/<MM>/<dd>`,
  * `adf/dataset/ds_bronze_parquet.json:16-19`) as REAL partition
  * columns, so Catalyst prunes ingest-date filters at file-listing
  * time — at 100 TB the difference between scanning a day and
  * scanning the lake.
  *
  * Every parquet write publishes through one of two rules, both
  * snappy-compressed (the reference's codec):
  *
  *  - whole-table publish (Silver truncate-loads, Gold replaces and
  *    compaction): the new table is written to a staging directory
  *    and swapped in by rename, so readers see the old table or the
  *    new one, never a hole — a failed write leaves the old table
  *    readable;
  *  - partition replace (Bronze ingest dates, Gold `load_id` runs): a
  *    dynamic partition overwrite that replaces only the partitions
  *    it writes, refused when the table's existing layout differs.
  */
final case class LakeZones(root: String) {
  def bronze(table: String): String = s"$root/bronze/$table"
  def silver(domain: String): String = s"$root/silver/$domain"
  def gold(table: String): String = s"$root/gold/$table"
}

/** JDBC connection descriptor for the serving tier (credentials and
  * dialect-specific options ride in `props`). */
final case class JdbcTarget(url: String, driver: String,
                            props: Map[String, String] = Map.empty)

/** Range partitioning for parallel JDBC reads: Spark issues
  * `numPartitions` queries, each bounded on `column` — without it a
  * JDBC read is a single cursor. */
final case class JdbcRangePartitioning(column: String, lower: Long,
                                       upper: Long, numPartitions: Int)

object LakeIO {

  /** S1 — CSV source with the reference's dialect (header, `"` quote,
    * `\` escape — `adf/dataset/ds_bronze_csv.json:13-34`) and an
    * imposed schema; extra file columns drift through harmlessly
    * because we select the declared projection. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\\")
      .schema(schema)
      .csv(path)

  /** CSV read with a corrupt-record audit lane: PERMISSIVE mode
    * captures rows that fail the imposed schema in a `_corrupt`
    * column instead of silently nulling or dropping them (the
    * reference's Copy activity would abort the whole file; a 100 TB
    * ingest quarantines bad rows and loads the rest). Returns
    * `(clean rows without the audit column, corrupt raw lines)` —
    * both lazily derived from ONE annotated read, and the caller
    * decides whether a non-empty quarantine fails the load.
    * Spark requires the corrupt column cached/materialized derivation
    * to come from the same scan — both frames share it. */
  def readCsvAudited(spark: SparkSession, path: String,
                     schema: StructType): (DataFrame, DataFrame) = {
    val withAudit = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField("_corrupt",
        org.apache.spark.sql.types.StringType, nullable = true))
    val parsed = spark.read
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\\")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .schema(withAudit)
      .csv(path)
    // Spark forbids filtering on the corrupt column straight off the
    // scan (it is only populated for rows the parser touches); a
    // cache-free persist boundary makes both lanes well-defined
    val raw = Checkpoints.truncate(parsed)
    (raw.filter(col("_corrupt").isNull).drop("_corrupt"),
      raw.filter(col("_corrupt").isNotNull).select(col("_corrupt")))
  }

  /** S4 — JSON config document (whole array → rows,
    * `ds_config_json.json:10-17`), read through `schema`: no
    * inference job over the document. */
  def readJsonConfig(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("multiLine", "true").json(path)

  /** JSONL (newline-delimited JSON) source — the training-data
    * interchange format (one document object per line, splittable,
    * so a 100 TB corpus scans with full parallelism). An explicit
    * schema skips Spark's whole-corpus inference pass; pass
    * `columnNameOfCorruptRecord`-style handling upstream if lines
    * may be malformed. */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** JSONL sink (gzip per-part — splittable at the FILE level, so
    * write many parts; a single giant .gz would serialize the
    * downstream scan). */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "gzip").json(path)

  /** Raw media ingestion — Spark's `binaryFile` source: each file
    * becomes one row of (path, modificationTime, length, content),
    * the entry point of the multimodal lane
    * ([[graft.operators.Multimodal]] takes it from here). Media
    * files don't split, so parallelism = file count; set
    * `pathGlobFilter` to the media extension and keep
    * `maxBytesPerPartition` defaults — small-file pressure is
    * handled downstream by packing into parquet binary columns
    * ([[graft.operators.Multimodal.packMedia]] layout), not by the
    * scan. `maxFileBytes` guards against a stray multi-GB object
    * poisoning an executor. */
  def readBinaryMedia(spark: SparkSession, path: String,
                      glob: String = "*",
                      maxFileBytes: Long = 256L * 1024 * 1024): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(path)
      .filter(col("length") <= maxFileBytes)

  /** ORC source/sink — the other columnar lake format (Hive/Trino
    * interop); same pushdown + pruning behavior as parquet. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "snappy").orc(path)

  /** S2-layout + S6 — land a frame in Bronze, time-partitioned by
    * ingest date, through a partition replace: only this ingest
    * date's directory is replaced, so a retried ingest (C7 wraps this
    * in `withRetry`) re-lands the same partition instead of appending
    * duplicate rows — the write is idempotent per (table, date). */
  def writeBronze(df: DataFrame, zones: LakeZones, table: String,
                  ingestDate: LocalDate): Unit =
    replacePartitions(df, zones.bronze(table), Seq(
      "ingest_year" -> ingestDate.getYear,
      "ingest_month" -> ingestDate.getMonthValue,
      "ingest_day" -> ingestDate.getDayOfMonth))

  /** A reader with `schema` imposed, or an inferring one without it.
    *
    * A contract read (`schema` given) lists the files but runs no
    * Spark job; without it, Spark runs a job that reads a parquet
    * footer only to infer the schema.
    * The schema holds data columns only: hive partition columns are
    * still discovered from the paths, with their inferred types. */
  private def reader(spark: SparkSession, schema: Option[StructType]) =
    schema.fold(spark.read)(s => spark.read.schema(s))

  /** S2 — read Bronze; pass an ingest date to prune to one partition
    * (pruning happens at planning: only that directory is listed),
    * and a `schema` to read through a contract (see `reader`). */
  def readBronze(spark: SparkSession, zones: LakeZones, table: String,
                 ingestDate: Option[LocalDate] = None,
                 schema: Option[StructType] = None): DataFrame =
    onIngestDate(reader(spark, schema).parquet(zones.bronze(table)), ingestDate)

  /** S2 with schema drift — the reference declares `allowSchemaDrift:
    * true, validateSchema: false` on every source (SURVEY §1.3):
    * extra columns pass through, missing columns are not an error.
    * Parquet union-by-name via `mergeSchema` reproduces exactly that
    * over Bronze batches whose shape changed between ingest dates:
    * columns absent in older batches surface as nulls, new columns
    * survive. Schema merging lists every file footer — bounded at
    * scale by partition pruning (pass `ingestDate`) or a pinned
    * contract schema once drift settles. */
  def readBronzeEvolving(spark: SparkSession, zones: LakeZones, table: String,
                         ingestDate: Option[LocalDate] = None): DataFrame =
    onIngestDate(spark.read.option("mergeSchema", "true").parquet(zones.bronze(table)),
      ingestDate)

  /** `df` pruned to one Bronze ingest date (a partition filter), or
    * unfiltered without one. */
  private def onIngestDate(df: DataFrame, ingestDate: Option[LocalDate]): DataFrame =
    ingestDate.fold(df) { d =>
      df.filter(col("ingest_year") === d.getYear &&
        col("ingest_month") === d.getMonthValue &&
        col("ingest_day") === d.getDayOfMonth)
    }

  /** S3/S10 — truncate-load a Silver domain (`DF_Clean_JDE.json:95`)
    * through a whole-table publish. */
  def overwriteSilver(df: DataFrame, zones: LakeZones, domain: String): Unit =
    publishTable(df, zones.silver(domain))

  /** Pass a `schema` to read through a contract (see `reader`). */
  def readSilver(spark: SparkSession, zones: LakeZones, domain: String,
                 schema: Option[StructType] = None): DataFrame =
    reader(spark, schema).parquet(zones.silver(domain))

  /** S7 — append-only fact sink (`DF_Load_FactSales.json:145-153`),
    * retry-safe: append one load batch as its own `load_id`
    * partition through a partition replace: a retried load (C7)
    * replaces its OWN partition instead of appending a second copy,
    * so the append-only fact sink is idempotent per logical run.
    * `loadId` must be stable across retries of a run and unique per
    * run (the ingest date works). */
  def appendGoldRun(df: DataFrame, zones: LakeZones, table: String,
                    loadId: String): Unit =
    appendRun(df, zones.gold(table), loadId)

  /** Write `df` as the `load_id=runId` partition of the parquet table
    * at `path` through a partition replace, so a retried run rewrites
    * its own partition instead of adding a second copy. */
  def appendRun(df: DataFrame, path: String, runId: String): Unit =
    replacePartitions(df, path, Seq("load_id" -> runId))

  /** Partition replace: write `df` with each `(column, value)` of
    * `partition` added as a constant hive partition column, replacing
    * only that partition of the parquet table at `path` (dynamic
    * overwrite) and leaving every other partition as it was.
    *
    * Fails fast on a layout clash instead of poisoning the table:
    * root-level data files, or existing partition columns other than
    * `partition`'s, make Spark's partition discovery reject the whole
    * table at read time once the new partition lands. */
  private def replacePartitions(df: DataFrame, path: String,
                                partition: Seq[(String, Any)]): Unit = {
    val cols = partition.map(_._1)
    val dir = partition.map { case (c, v) => s"$c=$v" }.mkString("/")
    val target = new Path(path)
    val fs = target.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    if (fs.exists(target)) {
      require(!fs.listStatus(target).exists(st =>
          st.isFile && st.getPath.getName.endsWith(".parquet")),
        s"$target holds non-partitioned data files; writing a $dir " +
          "partition would mix layouts and break partition discovery. " +
          "Overwrite the table instead.")
      val existing = hivePartitionColumns(fs, target)
      require(existing.isEmpty || existing == cols,
        s"$target is partitioned by ${existing.mkString(",")}; writing a " +
          s"$dir partition would conflict with that layout and break " +
          "partition discovery at read time.")
    }
    partition.foldLeft(df) { case (d, (c, v)) => d.withColumn(c, lit(v)) }
      .write
      .partitionBy(cols: _*)
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "snappy")
      .parquet(path)
  }

  /** Retention vacuum for run-partitioned gold tables: keep the
    * lexicographically-newest `keepLast` `load_id=` runs (load ids
    * sort by name — use sortable ids like ISO dates), delete the
    * rest. Returns the deleted run ids. Each run is one partition
    * directory, so deletion is O(#runs) metadata work regardless of
    * data volume. */
  def vacuumGold(spark: SparkSession, zones: LakeZones, table: String,
                 keepLast: Int): Seq[String] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val target = new Path(zones.gold(table))
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(target)) return Seq.empty
    val runs = fs.listStatus(target)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("load_id="))
      .map(_.getPath).sortBy(_.getName)
    val doomed = runs.dropRight(keepLast)
    doomed.foreach(p => fs.delete(p, true))
    doomed.map(_.getName.stripPrefix("load_id=")).toSeq
  }

  /** Replace a whole Gold table through a whole-table publish. */
  def overwriteGold(df: DataFrame, zones: LakeZones, table: String): Unit =
    publishTable(df, zones.gold(table))

  /** S8/S9 rewrite — dimension replace for read-modify-write cycles
    * (SCD2 merge reads the current dimension and writes its
    * successor) through a whole-table publish. Pass `partitionCols`
    * to keep a hive-partitioned layout through the rewrite. */
  def replaceGold(df: DataFrame, zones: LakeZones, table: String,
                  partitionCols: Seq[String] = Nil): Unit =
    publishTable(df, zones.gold(table), partitionCols)

  /** Whole-table publish: write-then-swap replace of the parquet
    * table at `path`. The new state is fully materialized into a
    * staging directory — the live directory is untouched while the
    * job runs, so a plan that reads the table keeps reading the files
    * it started from, and a failed write leaves the old table in
    * place — then swapped in with two FS renames. Readers never see a
    * partially-written state: they see the old table, or the new one,
    * or (in the brief rename window, or after a crash inside it) a
    * missing directory — which the next publish or [[readIfPresent]]
    * repairs from the `.old`/`.staging` leftovers before proceeding.
    * `partitionCols` names the hive partition columns of the new
    * table, if any. */
  private def publishTable(df: DataFrame, path: String,
                           partitionCols: Seq[String] = Nil): Unit = {
    val (fs, target, staging, retired) = recoverSwap(df.sparkSession, path)
    fs.delete(staging, true)
    val w = df.write.mode("overwrite").option("compression", "snappy")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(staging.toString)
    fs.delete(retired, true)
    if (fs.exists(target)) {
      require(fs.rename(target, retired), s"could not retire $target")
    }
    require(fs.rename(staging, target), s"could not publish $staging")
    fs.delete(retired, true)
  }

  /** The live, staging and retired directories of a whole-table
    * publish on `path`, after crash recovery for the swap window: if
    * a previous publish died between retiring the live table and
    * publishing staging, the target is missing but its content
    * survives in `.old` (complete previous state) and possibly
    * `.staging` (complete next state). Prefer the fully-written NEW
    * state when present — it was the outcome the crashed call was
    * committing — else restore the old.
    *
    * SINGLE-WRITER ASSUMPTION: repair cannot distinguish a CRASHED
    * writer from a LIVE one currently between its two renames —
    * repairing concurrently with a live writer can steal its publish
    * rename and fail the writer. This engine's orchestration (C7, one
    * Spark application per lake) satisfies the assumption; concurrent multi-writer tables
    * need an external commit protocol (a lock or a transaction log),
    * which is out of scope for plain-parquet zones. */
  private def recoverSwap(spark: SparkSession,
                          path: String): (FileSystem, Path, Path, Path) = {
    val target = new Path(path)
    val staging = new Path(path + ".staging")
    val retired = new Path(path + ".old")
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(target)) {
      // A staging dir is complete iff the committer wrote _SUCCESS —
      // a crash mid-write (no prior target at all) leaves no marker.
      if (fs.exists(new Path(staging, "_SUCCESS"))) {
        require(fs.rename(staging, target), s"could not publish $staging")
        fs.delete(retired, true)
      } else if (fs.exists(retired)) {
        require(fs.rename(retired, target), s"could not restore $retired")
      }
    }
    (fs, target, staging, retired)
  }

  /** The first-load rule of every read-modify-write over the lake:
    * the parquet table at `path`, or `None` when there is none yet —
    * its directory is missing or holds no entry Spark would read
    * (every name starts with `_` or `.`, as an aborted first write or
    * a batch that wrote no rows leaves it). Any other failure of the
    * read propagates: a caller never mistakes a broken table for an
    * absent one. Repairs a dangling whole-table publish first (see
    * `recoverSwap`), so a table whose data sits in `.old`/`.staging`
    * counts as present. Pass a `schema` to read through a contract
    * (see `reader`). */
  def readIfPresent(spark: SparkSession, path: String,
                    schema: Option[StructType] = None): Option[DataFrame] = {
    val (fs, target, _, _) = recoverSwap(spark, path)
    val present = fs.exists(target) && fs.listStatus(target).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (present) Some(reader(spark, schema).parquet(path)) else None
  }

  /** Pass a `schema` to read through a contract (see `reader`). */
  def readGold(spark: SparkSession, zones: LakeZones, table: String,
               schema: Option[StructType] = None): DataFrame =
    reader(spark, schema).parquet(zones.gold(table))

  /** Time travel over a run-partitioned gold table: the table state
    * as of `loadId` INCLUSIVE — every `load_id=` run up to and
    * including it (ids sort by name: use sortable ids, which
    * [[appendGoldRun]] callers and the streaming sinks do). The
    * filter is on a partition column, so pruning resolves it at
    * file-listing time — reproducing "the training set as of run N"
    * costs exactly the bytes of those runs, independent of how many
    * runs landed since. Runs deleted by [[vacuumGold]] are gone —
    * retention bounds how far back travel reaches. */
  def readGoldAsOf(spark: SparkSession, zones: LakeZones, table: String,
                   loadId: String): DataFrame =
    readGold(spark, zones, table).filter(col("load_id") <= lit(loadId))

  // ---------------------------------------------- JDBC serving seam

  /** Generic JDBC serving tier — the literal form of S5: the
    * reference serves Gold from a SQL database
    * (`/root/reference/adf/dataset/ds_gold_sql.json:12-21`, consumed
    * by `adf/dataflow/DF_SCD2_Customer.json:32-43`). The lake-native
    * gold read stays the default; this seam is for the user who
    * really does keep a warehouse in front — any JDBC-speaking
    * database slots in via a [[JdbcTarget]] descriptor (spec'd
    * against embedded Derby, which ships with Spark).
    *
    * Scale notes: a plain JDBC read is ONE partition (a single
    * cursor) — fine for dims, wrong for facts; pass `partitioning`
    * (column, lower, upper, n) so Spark issues n range-bounded
    * queries in parallel. Writes batch inserts (`batchsize`) and
    * should land in a staging table for anything transactional — the
    * database, not Spark, owns atomicity on that side. */
  def readJdbc(spark: SparkSession, target: JdbcTarget, table: String,
               partitioning: Option[JdbcRangePartitioning] = None): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", target.url)
      .option("driver", target.driver)
      .option("dbtable", table)
      .options(target.props)
    partitioning.fold(base) { p =>
      base.option("partitionColumn", p.column)
        .option("lowerBound", p.lower.toString)
        .option("upperBound", p.upper.toString)
        .option("numPartitions", p.numPartitions.toString)
    }.load()
  }

  /** Append/overwrite `df` into a JDBC table (batched inserts). */
  def writeJdbc(df: DataFrame, target: JdbcTarget, table: String,
                mode: String = "append", batchSize: Int = 10000): Unit =
    df.write.format("jdbc")
      .option("url", target.url)
      .option("driver", target.driver)
      .option("dbtable", table)
      .option("batchsize", batchSize.toString)
      .options(target.props)
      .mode(mode)
      .save()

  /** Publish a gold table to the JDBC serving tier (truncate-load —
    * the reference's gold SQL tables are rebuilt per run). */
  def publishGoldJdbc(spark: SparkSession, zones: LakeZones, table: String,
                      target: JdbcTarget): Unit =
    writeJdbc(readGold(spark, zones, table), target, table, mode = "overwrite")

  /** Register every table directory of a zone as `<zone>_<table>`
    * views so the whole lake is `spark.sql`-addressable (the SQL
    * serving surface of the reference's Azure SQL tier, SURVEY §1.1,
    * lake-native). Re-running refreshes the view set; views are
    * lazy — registration reads only directory listings, no data. */
  def registerViews(spark: SparkSession, zones: LakeZones): Seq[String] = {
    val fs = new Path(zones.root).getFileSystem(
      spark.sessionState.newHadoopConf())
    for {
      zone <- Seq("bronze", "silver", "gold")
      zonePath = new Path(s"${zones.root}/$zone")
      if fs.exists(zonePath)
      dir <- fs.listStatus(zonePath).toSeq if dir.isDirectory
      name = dir.getPath.getName
      // skip staging/retired swap leftovers
      if !name.endsWith(".staging") && !name.endsWith(".old")
      viewName = s"${zone}_$name"
    } yield {
      spark.read.parquet(dir.getPath.toString).createOrReplaceTempView(viewName)
      viewName
    }
  }

  /** Small-file compaction: rewrite a Gold table into
    * ~ceil(bytes / targetFileBytes) right-sized files through a
    * whole-table publish (no reader ever sees a partial table).
    * Streaming/incremental appends (per-batch `load_id` partitions,
    * daily Bronze landings) accrete files far smaller than a
    * scan-efficient parquet target — at 100 TB the file count, not
    * the byte count, is what kills scan planning and open() cost.
    *
    * The hive partition layout is PRESERVED (detected from the
    * directory names and re-applied on the rewrite, coalescing
    * within partitions), so a later [[appendGoldRun]] into the same
    * table still finds a partitioned layout. Returns the shuffle
    * partition count used for the rewrite. */
  def compactGold(spark: SparkSession, zones: LakeZones, table: String,
                  targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val target = new Path(zones.gold(table))
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    val bytes = fs.getContentSummary(target).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val partCols = hivePartitionColumns(fs, target)
    val src = spark.read.parquet(zones.gold(table))
    val df =
      if (partCols.nonEmpty) {
        // Keying the shuffle on the partition columns ALONE would cap
        // output at one task (= one file) per partition VALUE — a
        // 100 GB partition would become one 100 GB file. Add a
        // deterministic spread key so each partition's rows split
        // over ~filesPerPart tasks and the writer emits right-sized
        // files per partition dir. Partition-dir count is estimated
        // from the directory summary (over-counts nested layouts ⇒
        // at worst files come out smaller than the target, not
        // bigger).
        val nDirs = math.max(1L,
          fs.getContentSummary(target).getDirectoryCount - 1)
        val filesPerPart = math.max(1, math.ceil(nFiles.toDouble / nDirs).toInt)
        val spread = pmod(
          xxhash64(src.columns.filterNot(partCols.contains).map(col): _*),
          lit(filesPerPart))
        src.repartition(nFiles, partCols.map(col) :+ spread: _*)
      } else src.repartition(nFiles)
    publishTable(df, zones.gold(table), partCols)
    nFiles
  }

  /** Detect hive-style partition columns (`k=v` directory levels) by
    * walking the first directory chain under `root`. */
  private def hivePartitionColumns(
      fs: FileSystem, root: Path): Seq[String] = {
    val cols = scala.collection.mutable.ListBuffer.empty[String]
    var cur = root
    var continue = true
    while (continue) {
      val kids = fs.listStatus(cur).filter(st =>
        st.isDirectory && st.getPath.getName.contains("="))
      kids.headOption match {
        case Some(d) =>
          cols += d.getPath.getName.split("=", 2)(0)
          cur = d.getPath
        case None => continue = false
      }
    }
    cols.toList
  }
}
