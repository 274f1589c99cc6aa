package perfbench

import java.nio.file.{Files, Path}

/** Per-layer metrics derived from a [[Tracer]]'s spans: a traced lake
  * run reports every name in [[LakeNames]] (run.py adds the quality
  * counts it reads from the loaded lake), a traced registry run every
  * name in [[RegistryNames]]. */
object Traces {

  val Stages: Seq[String] = Seq("bronze", "silver", "scd2", "calendar", "fact", "star")

  val StageMetrics: Seq[String] = Seq("s", "rows", "bytes_written", "files_written",
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes", "driver_s", "core_busy_share")

  val SpanNames: Seq[String] = Seq("bronze.concurrent_jobs_max", "pipeline.self_s")

  val EngineNames: Seq[String] = Seq("catalyst.analysis_s",
    "catalyst.optimizer_s", "catalyst.planning_s", "codegen.compiles",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.driver_gap_s",
    "executor.run_s", "executor.cpu_s", "executor.core_busy_share",
    "shuffle.write_bytes", "spill.bytes")

  val LakeNames: Seq[String] =
    Stages.flatMap(x => StageMetrics.map(m => s"$x.$m")) ++ SpanNames ++
      EngineNames :+ "tracing.overhead_s"

  val RegistryNames: Seq[String] =
    EngineNames ++ Seq("queries.build_s", "tracing.overhead_s")

  /** Spans as JSON lines: name, start, end, parent and run id. */
  def write(path: Path, spans: Seq[Span]): Unit =
    Files.writeString(path, spans.map(s => Json(Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "run_id" -> s.runId, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "seconds" -> s.seconds, "compiles" -> s.compiles)))
      .mkString("", "\n", "\n"))

  /** Engine-wide counters over `s`: planning, compiles, scheduling, executors. */
  private def engine(t: Tracer, s: Span, cores: Int): Map[String, Double] = {
    val w = t.work(s)
    Map("catalyst.analysis_s" -> w.analysisS, "catalyst.optimizer_s" -> w.optimizerS,
      "catalyst.planning_s" -> w.planningS, "codegen.compiles" -> s.compiles.toDouble,
      "scheduler.jobs" -> w.jobs.toDouble, "scheduler.stages" -> w.stages.toDouble,
      "scheduler.tasks" -> w.tasks.toDouble,
      "scheduler.driver_gap_s" -> math.max(0.0, s.seconds - w.jobBusyS),
      "executor.run_s" -> w.runS, "executor.cpu_s" -> w.cpuS,
      "executor.core_busy_share" -> w.runS / (s.seconds * cores),
      "shuffle.write_bytes" -> w.shuffleWriteBytes.toDouble,
      "spill.bytes" -> w.spillBytes.toDouble)
  }

  /** Stage metrics of one traced load (spans `load` > stages, then `star`). */
  def lakeLayers(t: Tracer, spans: Seq[Span], written: Map[String, (Long, Long)],
                 starRows: Int, cores: Int): Map[String, Double] = {
    val load = spans.find(_.name == "load").get
    val stage = Stages.map(x => x -> spans.find(_.name == x).get).toMap
    val perStage = Stages.flatMap { x =>
      val s = stage(x)
      val w = t.work(s)
      val (files, bytes) = written.getOrElse(x, (0L, 0L))
      Seq("s" -> s.seconds,
        "rows" -> (if (x == "star") starRows.toDouble else w.recordsWritten.toDouble),
        "bytes_written" -> bytes.toDouble, "files_written" -> files.toDouble,
        "jobs" -> w.jobs.toDouble, "tasks" -> w.tasks.toDouble,
        "executor_run_s" -> w.runS, "executor_cpu_s" -> w.cpuS, "gc_s" -> w.gcS,
        "shuffle_write_bytes" -> w.shuffleWriteBytes.toDouble,
        "spill_bytes" -> w.spillBytes.toDouble,
        "driver_s" -> math.max(0.0, s.seconds - w.jobBusyS),
        "core_busy_share" -> w.runS / (s.seconds * cores)
      ).map { case (m, v) => s"$x.$m" -> v }
    }
    val self = load.seconds - Stages.filter(_ != "star").map(stage(_).seconds).sum
    perStage.toMap ++ engine(t, load, cores) ++ Map(
      "bronze.concurrent_jobs_max" -> t.work(stage("bronze")).concurrentJobsMax.toDouble,
      "pipeline.self_s" -> self)
  }

  /** Registry metrics of one traced pass (span `pass` > one span per
    * query > `build`), and a line naming its slowest query. */
  def registryLayers(t: Tracer, spans: Seq[Span], cores: Int): (Map[String, Double], String) = {
    val pass = spans.find(_.name == "pass").get
    val build = spans.filter(_.name == "build").map(_.seconds).sum
    val perQuery = spans.filter(_.parent.contains(pass.id))
    val slow = perQuery.maxBy(_.seconds)
    val w = t.work(slow)
    val slowBuild = spans.filter(s => s.name == "build" && s.parent.contains(slow.id))
      .map(_.seconds).sum
    val line = f"slowest layer (registry_eighth): ${slow.name} ${slow.seconds}%.3f s = " +
      f"build $slowBuild%.3f s, ${w.jobs} jobs busy ${w.jobBusyS}%.3f s, " +
      f"driver gap ${math.max(0.0, slow.seconds - w.jobBusyS)}%.3f s, " +
      f"catalyst ${w.analysisS + w.optimizerS + w.planningS}%.3f s, " +
      f"${slow.compiles} compiles, executor run ${w.runS}%.3f s"
    (engine(t, pass, cores) + ("queries.build_s" -> build), line)
  }
}
