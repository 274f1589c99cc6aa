package graft

/** Plan inspector + micro-timer: `runMain graft.Explain <query> [n]`
  * prints the formatted physical plan of one SparkEntry query over
  * SPARK_GRAFT_SF_DIR (default sf0.001) and times `n` count() runs
  * (default 3, first = cold). */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: Explain <query> [n]"))
    val n = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    // SPARK_GRAFT_CONF="k=v,k=v" → extra session confs (e.g.
    // graft.checkpoint.reliable=true to time the durable-checkpoint path)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",").filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    // SPARK_GRAFT_REBUILD=1 → rebuild the query each timed run, so
    // construction-time work (iterative operators' checkpoint rounds)
    // is inside the measurement, not amortized away
    val rebuild = sys.env.get("SPARK_GRAFT_REBUILD").contains("1")
    // SPARK_GRAFT_CONSUME=noop → time Bench-style noop-sink consumption
    // instead of count(): count() lets Catalyst prune every projection
    // not needed for cardinality (comparator columns, scrubbed text),
    // so a count-based micro-timing of a projection-heavy query
    // measures the wrong plan — the same trap that moved Bench off
    // count() in round 7
    val noop = sys.env.get("SPARK_GRAFT_CONSUME").contains("noop")
    (1 to n).foreach { i =>
      // construction must be INSIDE the timed region under rebuild:
      // iterative/evidence operators run EAGER localCheckpoint jobs at
      // construction (Checkpoints.truncate), which are real query cost
      // Bench always pays. Round 12 found this loop timing construction
      // BEFORE t0, silently excluding those jobs — q191 read 1.0 s
      // "isolated" vs its true 4.5 s, and round 11 mis-adjudicated the
      // gap as shared-JVM bench-loop state.
      val t0 = System.nanoTime()
      val d = if (rebuild) SparkEntry.queries(name)(spark, sfDir) else df
      val c = if (noop) { Bench.consume(d); -1L } else d.count()
      println(f"[explain] run $i: $c rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
