package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Bench, SparkEntry}

/** The registry workload: a fixed eighth of `SparkEntry.queries`. */
object Registry {

  type Query = (SparkSession, String) => DataFrame

  /** Every 8th name of the 231 registry queries in sorted order, fixed
    * here so later registry growth does not change the workload. */
  val Eighth: Seq[String] = Seq(
    "q01_pricing_summary", "q09_rollup_orders", "q107_partition_checksums",
    "q114_profit_by_nation", "q121_collated_group", "q129_prefix_filter_join",
    "q136_pq_adc_ann", "q143_unigram_viterbi", "q150_stupid_backoff", "q158_nfc_audit",
    "q165_histogram_percentiles", "q172_shard_rebalance", "q17_pivot_status",
    "q187_absorption_prob", "q194_seasonal_index", "q201_small_lot_revenue",
    "q209_clustering_coefficient", "q216_release_diff", "q223_watermark_audit",
    "q230_triangle_stratum", "q29_scalar_subquery", "q37_knn_ivf", "q45_pii_scrub",
    "q53_asof_forward", "q61_map_histogram", "q69_salted_agg", "q77_bloom_prune",
    "q85_group_reservoir", "q93_locf_impute")

  def eighth: Seq[(String, Query)] = {
    val all = SparkEntry.queries
    Eighth.map(n => n -> all.getOrElse(n, sys.error(s"registry has no query $n")))
  }

  /** Writes each query's result as parquet under `out/<name>` plus the
    * oracle twins in `out/oracle_sql.json`, the layout the repo's
    * DuckDB gate (`tools/check.py --skip-verify`) compares. Returns the
    * error of each query that threw. */
  def writeResults(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)],
                   out: Path): Map[String, Throwable] = {
    Files.createDirectories(out)
    val errors = queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).write.mode("overwrite").parquet(out.resolve(name).toString)
        None
      } catch { case e: Exception => Some(name -> e) }
      finally spark.catalog.clearCache()
    }.toMap
    val oracle = SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"), Json(queries.collect {
      case (name, _) if oracle.contains(name) => name -> oracle(name)
    }.toMap))
    errors
  }

  /** One timed execution, consumed through `Bench.consume`'s noop sink;
    * `build` wraps the call into the registry function. */
  def timeOne(spark: SparkSession, sfDir: String, fn: Query,
              build: (=> DataFrame) => DataFrame): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    try {
      Bench.consume(build(fn(spark, sfDir)))
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case e: Exception => Left(e) }
    finally spark.catalog.clearCache()
  }

  /** `names` in an order fixed by `seed`, so a seed also fixes which
    * query's compile and cache effects precede which. */
  def order(names: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(names)
}
