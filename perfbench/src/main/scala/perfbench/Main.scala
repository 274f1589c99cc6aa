package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.ScaleGen
import graft.sources.LakeZones

/** Benchmark JVM: runs one workload and writes its raw result (samples,
  * operation outcomes, check inputs, per-layer counters) as one JSON
  * file that `perfbench/run.py` checks and summarises.
  *
  * {{{
  * perfbench.Main --workload day1_full_load --seed 1 --seconds 10 \
  *   --trace 0 --work <work dir> --out <result.json>
  * }}}
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path, out: Path)

  /** Input sizes. Day 1 is ingest- and fact-heavy with a small master;
    * day 2 merges a small order batch into a large dimension. */
  final case class Sizes(day1Customers: Long = 20000, day1Orders: Long = 100000,
                         day2Customers: Long = 100000, day2SnapshotOrders: Long = 20000,
                         day2Orders: Long = 10000, registrySf: Double = 0.001,
                         setupRepeats: Int = 3, warmLoads: Int = 1, minLoads: Int = 3)

  val Cores = 4
  val StarRepeats = 2
  val Day1 = LocalDate.of(2024, 6, 1)
  val Day2 = LocalDate.of(2024, 6, 2)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", Paths.get(kv("work")), Paths.get(kv("out")))
    val spark = session()
    log("session started")
    try {
      val result = run(spark, a, Sizes(), Registry.eighth)
      Files.writeString(a.out, Json(result))
      log("result written")
    } finally spark.stop()
    log("session stopped")
  }

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Bench's measurement settings: registry-sized codegen cache and
      // the sort shuffle writer
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // int64 timestamps, so DuckDB reads query results as the oracle does
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def run(spark: SparkSession, a: Args, sizes: Sizes,
          queries: Seq[(String, Registry.Query)]): Map[String, Any] = {
    val ops = new Ops
    val out = a.workload match {
      case "day1_full_load" =>
        val d1 = Landing(a.work.resolve("landing/day1"), Day1,
          JdeGen.Day(1, sizes.day1Customers, sizes.day1Orders))
        new LakeWorkload(spark, a, sizes, ops, Seq(d1), history = Nil).run()
      case "day2_scd2_merge" =>
        val d1 = Landing(a.work.resolve("landing/day1"), Day1,
          JdeGen.Day(1, sizes.day2Customers, sizes.day2SnapshotOrders))
        val d2 = Landing(a.work.resolve("landing/day2"), Day2,
          JdeGen.Day(2, sizes.day2Customers, sizes.day2Orders))
        new LakeWorkload(spark, a, sizes, ops, Seq(d1, d2), history = Seq(d1)).run()
      case "registry_eighth" =>
        new RegistryWorkload(spark, a, sizes, ops, queries).run()
      case other => sys.error(s"unknown workload $other")
    }
    out ++ Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "ops" -> ops.all.map { case (n, e) => Map("name" -> n, "error" -> e) },
      "peak_rss_mb" -> peakRssMb)
  }

  /** The JVM's resident-set high-water mark (VmHWM). */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray(Array.empty[String])
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val jvmStart = System.nanoTime()

  /** A progress line in the JVM log, stamped with seconds since start. */
  def log(msg: String): Unit =
    println(f"[perfbench] ${(System.nanoTime() - jvmStart) / 1e9}%.1f s: $msg")

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Medians of each key over several per-iteration metric maps. */
  def medians(runs: Seq[Map[String, Double]]): Map[String, Double] =
    runs.flatMap(_.keys).distinct.map(k => k -> median(runs.flatMap(_.get(k)))).toMap
}

/** Every attempted operation with its failure, if any. A thrown
  * operation is recorded with its exception class, never dropped. */
final class Ops {
  private val buf = mutable.LinkedHashMap.empty[String, Option[String]]

  def run[T](name: String)(body: => T): Option[T] =
    try { val r = body; buf.getOrElseUpdate(name, None); Some(r) }
    catch {
      case e: Exception =>
        buf(name) = Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
        None
    }

  def fail(name: String, why: String): Unit =
    if (buf.get(name).forall(_.isEmpty)) buf(name) = Some(why)

  def all: Seq[(String, Option[String])] = buf.toSeq
}

/** `day1_full_load` and `day2_scd2_merge`: set up the landing days (and
  * for day 2 a day-1 lake snapshot), then time `Pipeline.run` of the
  * last day followed by `starTopK(10)`, restoring the start state
  * before each load. `history` are the days already in the snapshot.
  * Each loaded lake is moved aside for run.py, which checks it with
  * DuckDB after the JVM exits, so checks add nothing to the JVM's run. */
final class LakeWorkload(spark: SparkSession, a: Main.Args, sizes: Main.Sizes,
                         ops: Ops, days: Seq[Landing], history: Seq[Landing]) {
  import Main._
  private val lakeDir = a.work.resolve("lake")
  private val snapshot = a.work.resolve("snapshot")
  private val loaded = a.work.resolve("loaded")
  private val zones = LakeZones(lakeDir.toString)
  private val target = days.last
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var csvBytes = 0L

  /** Set-up proper: generating the landing days. Repeated, so its
    * median is steady; the day-1 snapshot is then built once. */
  private def generate(): Unit = {
    Fs.delete(a.work.resolve("landing"))
    csvBytes = days.map(d => JdeGen.writeDay(spark, a.seed, d.day, d.dir)).sum
  }

  private def buildSnapshot(): Unit = if (history.nonEmpty) {
    Seq(lakeDir, snapshot).foreach(Fs.delete)
    history.foreach(Lake.run(spark, zones, _))
    Fs.copyTree(lakeDir, snapshot)
  }

  private def restore(): Unit =
    if (history.isEmpty) Fs.delete(lakeDir) else Fs.copyTree(snapshot, lakeDir)

  /** Moves the lake of load `name` aside for run.py's checks. */
  private def keep(name: String, star: Option[Array[org.apache.spark.sql.Row]]): Unit = {
    val dst = loaded.resolve(name)
    Files.createDirectories(loaded)
    if (Files.exists(lakeDir)) Files.move(lakeDir, dst)
    checks += Map("op" -> name, "lake" -> dst.toString,
      "top10" -> star.map(Lake.rowStrings).orNull)
  }

  private val samples = mutable.LinkedHashMap(Seq("load_s", "star_query_s",
    "lake_bytes_per_csv_byte", "host_probe_s").map(_ -> mutable.ArrayBuffer.empty[Double]): _*)

  /** A host probe, one load and `StarRepeats` star queries on the loaded
    * lake; a timed load adds its samples. */
  private def load(name: String, timed: Boolean): Unit = {
    restore()
    val probe = HostSpeed.probe()
    val done = ops.run(name)(seconds(Lake.run(spark, zones, target))._2)
    val stars = done.toSeq.flatMap(_ => (1 to StarRepeats).flatMap(r =>
      ops.run(if (r == 1) s"$name.star" else s"$name.star$r")(seconds(Lake.star(spark, zones)))))
    val ratio = Fs.bytes(lakeDir).toDouble / csvBytes
    keep(name, stars.headOption.map(_._1))
    if (timed && done.nonEmpty && stars.size == StarRepeats) {
      samples("load_s") += done.get
      samples("star_query_s") ++= stars.map(_._2)
      samples("lake_bytes_per_csv_byte") += ratio
      samples("host_probe_s") += probe
    }
  }

  def run(): Map[String, Any] = {
    val setup = (1 to sizes.setupRepeats).map(_ => seconds(generate())._2)
    log("landing generated")
    buildSnapshot()
    (1 to sizes.warmLoads).foreach(w => load(s"warmup$w", timed = false))
    log("warm-up loads done")
    val layerRuns = mutable.ArrayBuffer.empty[Map[String, Double]]
    val traced, entry = mutable.ArrayBuffer.empty[Double]
    val report = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    var i = 0
    // a traced iteration also runs the entry point and the replay
    val minIterations = if (a.trace) 2 else sizes.minLoads
    while ((System.nanoTime() - t0) / 1e9 < a.seconds || i < minIterations) {
      i += 1
      load(s"load$i", timed = true)
      log(s"load$i done")
      if (a.trace) tracedLoad(s"trace$i").foreach { case (m, s, e) =>
        layerRuns += m; traced += s; entry += e
      }
    }
    val layers = if (!a.trace) Map.empty[String, Double] else {
      val m = medians(layerRuns.toSeq)
      val slowest = Traces.Stages.maxBy(x => m(s"$x.s"))
      report += f"slowest layer (${a.workload}): $slowest ${m(s"$slowest.s")}%.3f s = " +
        f"driver ${m(s"$slowest.driver_s")}%.3f s + jobs; ${m(s"$slowest.jobs")}%.0f jobs, " +
        f"${m(s"$slowest.tasks")}%.0f tasks, executor run ${m(s"$slowest.executor_run_s")}%.3f s"
      report += "stage breakdown: " +
        Traces.Stages.map(x => f"$x ${m(s"$x.s")}%.3f s").mkString(", ") +
        f", pipeline self ${m("pipeline.self_s")}%.3f s"
      val untraced = median(entry.toSeq)
      val overhead = median(traced.toSeq) - untraced
      report += f"tracing overhead: traced replay ${median(traced.toSeq)}%.3f s - " +
        f"untraced Pipeline.run just before it $untraced%.3f s = $overhead%.3f s"
      m + ("tracing.overhead_s" -> overhead)
    }
    val seeded = JdeGen.seeded(target.day)
    Map(
      "samples" -> (samples.toMap + ("setup_s" -> setup)),
      "checks" -> Map("kind" -> "lake", "loads" -> checks,
        "landing" -> days.map(d => Map("dir" -> d.dir.toString, "now" -> d.now.toString,
          "load_id" -> d.loadId)),
        "seeded" -> seeded.productElementNames.zip(seeded.productIterator).toMap),
      "layers" -> layers, "report" -> report)
  }

  /** An untraced load and a traced stage-by-stage replay from the same
    * start state; their Gold checksums must agree. Returns the replay's
    * per-layer metrics, its load span seconds and the untraced load's. */
  private def tracedLoad(name: String): Option[(Map[String, Double], Double, Double)] = {
    restore()
    val reference = ops.run(s"$name.entry") {
      val (_, s) = seconds(Lake.run(spark, zones, target))
      (Lake.checksums(spark, zones), s)
    }
    keep(s"$name.entry", None)
    restore()
    val t = new Tracer(spark, s"${a.workload}-${a.seed}-$name")
    val written = mutable.LinkedHashMap.empty[String, (Long, Long)]
    var star: Option[Array[org.apache.spark.sql.Row]] = None
    try ops.run(name) {
      t.span("load") { Lake.replay(spark, zones, target, t, written) }
      star = Some(t.span("star") { Lake.star(spark, zones) })
      val spans = t.spans
      Traces.write(a.out.resolveSibling(s"spans-$name.jsonl"), spans)
      val got = Lake.checksums(spark, zones)
      reference.map(_._1).filter(_ != got).foreach(r =>
        ops.fail(name, s"replay Gold checksums $got differ from Pipeline.run's $r"))
      (Traces.lakeLayers(t, spans, written.toMap, star.get.length, Cores),
        spans.find(_.name == "load").get.seconds, reference.fold(Double.NaN)(_._2))
    } finally {
      t.stop()
      keep(name, star)
    }
  }
}

/** `registry_eighth`: generated tables, one untimed pass that writes
  * every result for the oracle check (and compiles every query), then
  * timed noop-sink passes. */
final class RegistryWorkload(spark: SparkSession, a: Main.Args, sizes: Main.Sizes,
                             ops: Ops, queries: Seq[(String, Registry.Query)]) {
  import Main._
  private val sfDir = a.work.resolve("tables").toString
  private val byName = queries.toMap

  private def pass(p: String, order: Seq[String],
                   build: (=> org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame =
                     df => df): Seq[(String, Double)] =
    order.flatMap { n =>
      val op = s"query:$n#$p"
      Registry.timeOne(spark, sfDir, byName(n), build) match {
        case Right(s) => ops.run(op)(()); Some(n -> s)
        case Left(e) => ops.run(op)(throw e); None
      }
    }

  def run(): Map[String, Any] = {
    val setup = (1 to sizes.setupRepeats).map { _ =>
      Fs.delete(Paths.get(sfDir))
      seconds(ScaleGen.generate(spark, sizes.registrySf, sfDir))._2
    }
    val verifyDir = a.work.resolve("results")
    Registry.writeResults(spark, sfDir, queries, verifyDir).foreach { case (n, e) =>
      ops.run(s"verify:$n")(throw e)
    }
    queries.foreach { case (n, _) => ops.run(s"verify:$n")(()) }
    val order = Registry.order(queries.map(_._1), a.seed)
    val passS = mutable.ArrayBuffer.empty[Double]
    val queryS = mutable.ArrayBuffer.empty[Double]
    val layerRuns = mutable.ArrayBuffer.empty[Map[String, Double]]
    val traced = mutable.ArrayBuffer.empty[Double]
    val report = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < a.seconds || i < 1) {
      i += 1
      val (samples, s) = seconds(pass(s"$i", order))
      passS += s; queryS ++= samples.map(_._2)
      if (a.trace) {
        val t = new Tracer(spark, s"${a.workload}-${a.seed}-trace$i")
        try {
          t.span("pass") {
            order.foreach(n => t.span(n) {
              pass(s"trace$i", Seq(n), df => t.span("build")(df))
            })
          }
          t.drain()
          Traces.write(a.out.resolveSibling(s"spans-trace$i.jsonl"), t.spans)
          val (m, slow) = Traces.registryLayers(t, t.spans, Cores)
          layerRuns += m; traced += t.spans.find(_.name == "pass").get.seconds
          if (i == 1) report += slow
        } finally t.stop()
      }
    }
    val layers = if (!a.trace) Map.empty[String, Double] else {
      val overhead = median(traced.toSeq) - median(passS.toSeq)
      report += f"tracing overhead: traced pass ${median(traced.toSeq)}%.3f s - " +
        f"untraced pass ${median(passS.toSeq)}%.3f s = $overhead%.3f s"
      medians(layerRuns.toSeq) + ("tracing.overhead_s" -> overhead)
    }
    Map(
      "samples" -> Map("setup_s" -> setup, "registry_pass_s" -> passS, "query_s" -> queryS),
      "checks" -> Map("kind" -> "registry", "results" -> verifyDir.toString,
        "tables" -> sfDir, "queries" -> queries.map(_._1)),
      "layers" -> layers, "report" -> report)
  }
}
