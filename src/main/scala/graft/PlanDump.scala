package graft

import org.apache.spark.sql.execution.FormattedMode

/** Batch plan snapshotter for the optimization rounds:
  * `runMain graft.PlanDump <outDir> [query ...]` writes each named
  * query's `.explain("formatted")` output to `<outDir>/<query>.txt`
  * (all registered queries when none are named) over
  * SPARK_GRAFT_SF_DIR in ONE JVM — the per-query Explain main pays
  * ~15 s of Spark startup per plan, which makes a 231-query
  * before/after sweep impractical. The session is Bench's
  * ([[GraftSession]], shuffle partitions = SPARK_GRAFT_CPUS) so the
  * dumped plans are the shapes the bench actually runs. Plans are the pre-execution
  * AQE-initial shapes — the same thing `df.explain("formatted")`
  * prints. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(sys.error("usage: PlanDump <outDir> [query ...]"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val out = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(out)
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(FormattedMode)
        java.nio.file.Files.write(out.resolve(s"$name.txt"),
          txt.getBytes("UTF-8"))
        // one-line shape summary on stdout for quick triage
        val nEx = "Exchange".r.findAllIn(txt).length
        val joins = Seq("BroadcastHashJoin", "SortMergeJoin",
          "ShuffledHashJoin", "BroadcastNestedLoopJoin")
          .map(j => s"$j=${j.r.findAllIn(txt).length}")
          .filterNot(_.endsWith("=0")).mkString(" ")
        println(s"[plandump] $name exchanges=$nEx $joins")
      } catch {
        case e: Throwable => println(s"[plandump] $name FAILED: ${e.getMessage}")
      } finally {
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
