package graft

/** Plan inspector + micro-timer: `runMain graft.Explain <query> [n]`
  * prints the formatted physical plan of one SparkEntry query over
  * SPARK_GRAFT_SF_DIR (default sf0.001), then times `n` samples
  * (default 3, first = cold) through [[Bench.measure]]: each sample
  * rebuilds the query inside the timed region, so construction-time
  * work (iterative operators' eager checkpoint rounds) is measured,
  * and consumes it through the `noop` sink, so no projection is
  * pruned away the way `count()` would. Exits 1 if a sample throws. */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: Explain <query> [n]"))
    val n = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    val query = SparkEntry.queries(name)
    query(spark, sfDir).explain("formatted")
    val run = Bench.measure(spark, sfDir, Seq(name -> query), n, 0)
    run.passes.zipWithIndex.foreach { case (p, i) =>
      println(f"[explain] run ${i + 1}: ${p(name)}%.2f s")
    }
    run.tiebreaks.foreach { case (_, s) => println(f"[explain] tiebreak: $s%.2f s") }
    run.failed.foreach { case (_, e) => println(s"[explain] failed: $e") }
    spark.stop()
    if (run.failed.nonEmpty) sys.exit(1)
  }
}
