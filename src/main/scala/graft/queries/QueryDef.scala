package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: a Spark implementation over the testdata
  * parquet tables plus (where SQL-expressible) an equivalent ANSI SQL
  * oracle the driver runs in DuckDB on the same tables.
  *
  * Oracle-parity conventions (so value hashes match across engines):
  *  - integer outputs cast to BIGINT on both sides (DuckDB date
  *    parts/counts are BIGINT, Spark's are INT);
  *  - money aggregates computed in DECIMAL(18,2) exactly (sum order
  *    must not matter), final column cast to DOUBLE on both sides;
  *  - timestamps surfaced as epoch-millis BIGINT;
  *  - every result deterministically ordered by a unique key.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  /** Read one testdata table (`TESTDATA.md` layout).
    *
    * The returned frame is memoized per (session, path): creating a
    * parquet relation re-lists the path and re-reads footers for
    * schema inference on EVERY call, and the bench calls this
    * hundreds of times for the same handful of paths. The memo holds
    * the immutable logical relation (schema + file index) only —
    * never rows — so it is not result caching: every action still
    * computes from the parquet files. Keyed by the live session so a
    * frame never leaks across sessions (test suites start and stop
    * their own). Assumes fixture paths are immutable within a
    * session — true for every driver surface (Verify/Bench read-only;
    * the generators write but never read back through this helper). */
  private val tableMemo = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    tableMemo
      .computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap[String, DataFrame]())
      .computeIfAbsent(s"$sfDir/$name.parquet",
        path => spark.read.parquet(path))

  /** Estimated physical-scan split count for a parquet path — the
    * same bytes/maxPartitionBytes arithmetic Spark's file-source
    * packing uses (openCost ignored: an under-estimate only ever
    * keeps [[spreadTable]] on, which is the safe direction). The files
    * are listed through the path's Hadoop `FileSystem`, so a URI path
    * (`file:`, `hdfs:`, `s3a:`) estimates like the plain local path
    * it names. Memoized per (path, maxPartitionBytes): the bench
    * re-reads the same handful of paths hundreds of times. */
  private val splitMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Long]()
  private def scanSplits(spark: SparkSession, path: String): Long = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val maxPB = spark.sessionState.conf.filesMaxPartitionBytes
    splitMemo.computeIfAbsent((path, maxPB), { _ =>
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      def walk(f: FileStatus): Seq[FileStatus] =
        if (f.isDirectory) fs.listStatus(f.getPath).toSeq.flatMap(walk)
        else Seq(f)
      val files = walk(fs.getFileStatus(root)).filter { f =>
        val name = f.getPath.getName
        !name.startsWith("_") && !name.startsWith(".")
      }
      files.map(f => math.max(1L, (f.getLen + maxPB - 1) / maxPB)).sum
    })
  }

  /** Scale-adaptive scan spread (optimization guide §2.5, "input
    * skew: one huge unsplittable file"): the fixture tables are ONE
    * parquet file with ONE row group, so the physical scan — and
    * every operator Catalyst fuses into the scan stage: tokenize,
    * shingle, hash, vector math — runs as ONE task regardless of
    * core count. When the estimated split count of the backing path
    * is below the cluster's parallelism, round-robin repartition to
    * defaultParallelism immediately after the read so per-row compute
    * uses the whole machine; the repartitioned bytes are bounded by
    * construction (splits < cores ⇒ table < cores × maxPartitionBytes).
    * On a real tier the scan has ≥ cores splits and this is a NO-OP —
    * the extra exchange never exists at scale (the multi-file
    * gen-/diverse- rigs hit the no-op path today). Apply to scans
    * whose downstream per-row work dominates a one-pass re-shuffle of
    * the rows (text/vector/edge pipelines), not blanket: a
    * scan-dominated aggregate would pay serialization for nothing. */
  def spreadTable(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = table(spark, sfDir, name)
    val par = spark.sparkContext.defaultParallelism
    if (scanSplits(spark, s"$sfDir/$name.parquet") < par) df.repartition(par)
    else df
  }

  /** Deterministic md5-keyed decile stratum (the q224/q52/q183
    * sampling discipline): membership is a pure hash of the key
    * column, so any engine draws the identical stratum. Used by the
    * graph-tier scale-audit twins (q229/q230/q231) to keep a
    * paid-in-full oracle alive at tiers where the full-input oracle
    * outgrows the box. */
  def md5Decile(df: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, conv, md5, substring}
    import org.apache.spark.sql.types.LongType
    df.filter(conv(substring(md5(col(key).cast("string")), 1, 15), 16, 10)
      .cast(LongType) % 10 === 0)
  }

  /** DuckDB twin of [[md5Decile]], as a WHERE predicate. */
  def md5DecileSql(key: String): String =
    s"CAST('0x' || substr(md5(CAST($key AS VARCHAR)), 1, 15) AS BIGINT) % 10 = 0"

  /** Fixed ANN/eval query workload: every 200th vector of the
    * ids < 2000 reference prefix — 10 queries regardless of corpus
    * size. An evaluation workload is a benchmark constant, not a
    * function of the corpus; left proportional, every query×corpus
    * scan grows quadratically with scale (measured ×30 at 10× data
    * in SCALING.md before the cap). Identical to the uncapped filter
    * at fixture scale factors, where all embedding ids are < 2000.
    * SQL twin: `vec_id % 200 = 0 AND vec_id < 2000`. Same cap
    * discipline as [[graft.operators.Clustering.seedCentroids]]. */
  def annWorkload(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    e.filter(col("vec_id") % 200 === 0 && col("vec_id") < 2000)
  }

  /** The events table's `ts` physical type has varied across testdata
    * generations: TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects outright — read nanos as long, convert with integer
    * division since ns values ~1.7e18 overflow double precision) and
    * TIMESTAMP(MICROS) without timezone (reads as TIMESTAMP_NTZ —
    * cast to session-timezone TIMESTAMP, an exact instant map under
    * the pinned UTC session). Dispatch on the inferred schema so both
    * land on the same microsecond instants the DuckDB oracle sees
    * after `CAST(ts AS TIMESTAMP)`. */
  def eventsTable(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
}
