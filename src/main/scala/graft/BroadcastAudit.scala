package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.graft.PlanBridge

/** Registry-wide broadcast-growth audit
  * (`runMain graft.BroadcastAudit [query...]`): for every registered
  * query (default: all), find each BroadcastExchange in the INITIAL
  * physical plan and count the rows of its build side at each sf dir
  * in SPARK_GRAFT_SF_DIRS (default sf0.01 and sf0.1) — the same
  * claims-become-measurements discipline PlanAuditSpec applies to
  * global-window frames, aimed at the q129 failure class: a broadcast whose build
  * side grows with the corpus works at bench scale, driver-OOMs at
  * 20×, and is structurally wrong at 100 TB. A broadcast is only safe
  * when its build side is bounded by DOMAIN (a dim table, a stats
  * row, a codebook); this tool measures which ones actually are.
  *
  * Row counts come from re-executing the broadcast child's logical
  * link through [[PlanBridge.ofRows]] — the logical subtree BEFORE
  * the exchange, so the count pays the subplan once and never builds
  * the hash relation.
  *
  * Output: one JSON line per (query, dir):
  * `{"query":…,"dir":…,"bcasts":[{"rows":…,"est_bytes":…,"ckpt":…}]}`
  * (rows desc), on stdout and appended to
  * `target/broadcast_audit.jsonl`. Queries whose plans have no
  * broadcast emit an empty list. `est_bytes` is Catalyst's estimate
  * EXCEPT when `ckpt` is true: checkpoint-rooted subtrees carry
  * garbage default-stats products, so the field is the sentinel -1
  * there (r12-and-earlier census lines emitted the raw overflowed
  * estimate for those rows — cross-round est_bytes deltas are only
  * meaningful where `ckpt` is false on both sides).
  */
object BroadcastAudit {

  /** One measured broadcast build side: actual rows, Catalyst's
    * sizeInBytes ESTIMATE (the number the broadcast decision was made
    * on), and whether the subtree is rooted in a checkpoint
    * (LogicalRDD/LocalRelation — stats that do NOT grow with the
    * corpus). The dangerous class is `ckptRooted && rows growing`:
    * a file-scan-rooted broadcast re-decides itself from real file
    * sizes at every scale (and flips to a shuffle join when the dim
    * outgrows the threshold), but a checkpoint-rooted estimate is
    * frozen, so the plan keeps broadcasting a relation that grows
    * with the corpus until the driver dies — q129's gen-sf2 failure
    * mode. */
  final case class Bcast(rows: Long, estBytes: BigInt, ckptRooted: Boolean)

  /** Build-side measurements of every BroadcastExchange in df's
    * initial physical plan, largest first. AQE wrapping is unwrapped
    * but NOT executed — the initial plan is the static planning
    * decision this audit is about (AQE can demote a broadcast at
    * runtime, but a 100 TB-safe plan must not rely on that: AQE
    * re-plans from runtime shuffle stats, which a
    * broadcast-everywhere initial plan never materializes). */
  def broadcastBuildSides(spark: SparkSession,
                          df: org.apache.spark.sql.DataFrame): Seq[Bcast] = {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.LogicalRDD
    val initial: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val children = initial.collect { case b: BroadcastExchangeExec => b.child }
    children.flatMap { c =>
      c.logicalLink.map { l: LogicalPlan =>
        val rows = PlanBridge.ofRows(spark, l).count()
        val est = l.stats.sizeInBytes
        val ckpt = l.collectLeaves().exists(_.isInstanceOf[LogicalRDD])
        Bcast(rows, est, ckpt)
      }
    }.sortBy(-_.rows)
  }

  def main(args: Array[String]): Unit = {
    val dirs = sys.env.getOrElse("SPARK_GRAFT_SF_DIRS",
      "/root/testdata/sf0.01,/root/testdata/sf0.1").split(",").toSeq
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)

    val out = java.nio.file.Paths.get("target", "broadcast_audit.jsonl")
    java.nio.file.Files.createDirectories(out.getParent)

    for (name <- names; dir <- dirs) {
      val line =
        try {
          val bs = broadcastBuildSides(spark, SparkEntry.queries(name)(spark, dir))
          // ckpt-rooted subtrees carry garbage sizeInBytes (Catalyst's
          // default-stats products overflow to ~1e23 past a
          // LogicalRDD) — emit -1 rather than a number a reader might
          // trust; `rows` is the load-bearing measurement either way
          val items = bs.map(b =>
            s"""{"rows":${b.rows},"est_bytes":${if (b.ckptRooted) -1 else b.estBytes},"ckpt":${b.ckptRooted}}""")
          s"""{"query":"$name","dir":"${Jsonl.esc(dir)}","bcasts":[${items.mkString(",")}]}"""
        } catch {
          case e: Throwable =>
            s"""{"query":"$name","dir":"${Jsonl.esc(dir)}","error":"${e.getClass.getSimpleName}"}"""
        }
      spark.catalog.clearCache()
      println(line)
      java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    spark.stop()
  }
}
