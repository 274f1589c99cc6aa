package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.graft.PlanBridge

/** One-off measurement aid: for each query name passed (default: the
  * PlanAuditSpec global-window allowlist), find every GLOBAL
  * (un-partitioned) logical Window in the optimized plan and count
  * the rows of its child — the frame a single task must hold — at
  * each sf dir in SPARK_GRAFT_SF_DIRS (comma-separated). Prints one
  * line per (query, dir): `FRAME <query> <dir> <counts...>`.
  */
object FrameAudit {

  /** CANONICAL global-window allowlist: every registered query that
    * may plan an un-partitioned Window, with the measured frame-row
    * cap its docstring claims (the domain bound one task must hold at
    * any corpus size). PlanAuditSpec enforces membership AND measures
    * every cap at two sfs — this map is the single source of truth;
    * the spec imports it, so adding/removing an entry here changes
    * both the tripwire and this audit tool together. */
  val FrameCaps: Map[String, Long] = Map(
    "q102_cumulative_users" -> 40L,      // per-day frame (#distinct days; 30-day events span)
    "q149_jaro_winkler_linkage" -> 2000L, // boundary stitch: ≤ 4 rows per name block (+ growth gate)
    "q165_histogram_percentiles" -> 56001L, // distinct 2dp values; domain [0.00, 560.00]
    "q167_waterfill_budget" -> 25L,      // per-source frame (20 distinct sources)
    "q168_km_conversion" -> 10L,         // Kaplan-Meier distinct obs times ≤ 8
    "q177_auc_stopword_en" -> 56001L,    // distinct 2dp scores; same value domain
    "q180_ks_statistic" -> 56001L,       // distinct 2dp values; same value domain
    "q188_window_funnel" -> 8L,          // funnel-step frame (#steps)
    "q189_sprt_stopping" -> 60L,         // per-variant sequential frame (30 rows)
    "q213_pareto_suppliers" -> 2000L,    // union of 32 partial frontiers (+ growth gate)
    "q217_slo_burn" -> 744L,             // per-hour SLO frame (≤ 31 days × 24 h)
    "q223_watermark_audit" -> 65536L     // block-maxima frame; block size adapts to cap #blocks
  )

  /** The two allowlist entries whose bound is a GROWTH argument
    * (partial-frontier unions / per-block stitches shrink relative to
    * the corpus) rather than a fixed value domain: PlanAuditSpec
    * additionally requires the frame to grow ≤ 5× under a 10× corpus. */
  val GrowthGated: Set[String] = Set(
    "q149_jaro_winkler_linkage", "q213_pareto_suppliers")

  val Allowlist: Seq[String] = FrameCaps.keys.toSeq.sorted

  def main(args: Array[String]): Unit = {
    val dirs = sys.env.getOrElse("SPARK_GRAFT_SF_DIRS",
      "/root/testdata/sf0.001,/root/testdata/sf0.01,/root/testdata/sf0.1")
      .split(",").toSeq
    val names = if (args.nonEmpty) args.toSeq else Allowlist
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- names; dir <- dirs) {
      val df = SparkEntry.queries(name)(spark, dir)
      val frames = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w.child
      }
      val counts = frames.map(c => PlanBridge.ofRows(spark, c).count())
      spark.catalog.clearCache()
      println(s"FRAME $name $dir ${counts.mkString(",")}")
    }
    spark.stop()
  }
}
