package perfbench

import scala.collection.mutable
import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: wall-clock millis for attributing listener
  * events, nanos for its duration. */
final case class Span(id: Int, name: String, parent: Option[Int], runId: String,
                      startMs: Long, startNs: Long, compilesAtStart: Long) {
  var endMs: Long = 0L
  var endNs: Long = 0L
  var compiles: Long = 0L
  def seconds: Double = (endNs - startNs) / 1e9
  def contains(ms: Long): Boolean = ms >= startMs && ms <= endMs
}

/** Counters summed over the jobs, stages and tasks attributed to a span. */
final case class Work(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                      runS: Double = 0, cpuS: Double = 0, gcS: Double = 0,
                      shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
                      recordsWritten: Long = 0,
                      jobBusyS: Double = 0, concurrentJobsMax: Int = 0,
                      analysisS: Double = 0, optimizerS: Double = 0,
                      planningS: Double = 0)

/** In-memory span recorder plus the listeners that feed it.
  *
  * Spans are opened around calls into the program's public functions;
  * the open span's id rides Spark's job-submission local properties
  * (inherited by threads the program starts inside the span), so each
  * job's counters go to the span in which the job started. Jobs
  * submitted from threads that predate the span fall back to the
  * innermost span whose interval holds the job's start time. Catalyst
  * phase times come from each action's `QueryPlanningTracker`,
  * attributed by the phase's start time. Nothing is written until
  * [[spans]] is read at the end of the run.
  */
final class Tracer(spark: SparkSession, val runId: String)
    extends SparkListener with QueryExecutionListener {
  private val Key = "perfbench.span"
  private val sc = spark.sparkContext
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  private final class Job(val prop: Option[Int], val startMs: Long) {
    var endMs: Long = startMs
    var stages, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleW, spill, recW = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  // (phase, start ms, seconds) from every finished action's tracker
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Double)]

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def stop(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = BusDrain(sc)

  def span[T](name: String)(body: => T): T = {
    val s = Span(recorded.size, name, open.headOption.map(_.id), runId,
      System.currentTimeMillis(), System.nanoTime(), Tracer.compiles)
    recorded += s
    open = s :: open
    sc.setLocalProperty(Key, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.compiles = Tracer.compiles - s.compilesAtStart
      open = open.tail
      sc.setLocalProperty(Key, open.headOption.map(_.id.toString).orNull)
    }
  }

  def spans: Seq[Span] = recorded.toSeq

  // ------------------------------------------------ listener callbacks

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .map(_.toInt)
    jobs(e.jobId) = new Job(prop, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleW += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.diskBytesSpilled
      j.recW += m.outputMetrics.recordsWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, p) =>
      phases += ((phase, p.startTimeMs, p.durationMs / 1e3))
    }
  }

  // ------------------------------------------------------- attribution

  private def innermost(ms: Long): Option[Int] =
    recorded.filter(_.contains(ms)).sortBy(-_.startNs).headOption.map(_.id)

  private def within(spanId: Int, target: Span): Boolean =
    spanId == target.id ||
      recorded(spanId).parent.exists(p => within(p, target))

  /** Counters of every job attributed to `s` or a span nested in it. */
  def work(s: Span): Work = { drain(); synchronized {
    val mine = jobs.values.filter(j =>
      j.prop.orElse(innermost(j.startMs)).exists(within(_, s))).toSeq
    // clip each job to the span and merge overlaps: busy wall time
    val iv = mine.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busyMs = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { busyMs += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busyMs += curB - curA
    val edges = iv.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }
      .sortBy { case (t, d) => (t, d) }
    val concurrent = edges.scanLeft(0)(_ + _._2).max
    def phase(name: String): Double = phases.collect {
      case (`name`, t, sec) if innermost(t).exists(within(_, s)) => sec
    }.sum
    Work(
      jobs = mine.size, stages = mine.map(_.stages).sum,
      tasks = mine.map(_.tasks).sum,
      runS = mine.map(_.runMs).sum / 1e3, cpuS = mine.map(_.cpuNs).sum / 1e9,
      gcS = mine.map(_.gcMs).sum / 1e3,
      shuffleWriteBytes = mine.map(_.shuffleW).sum,
      spillBytes = mine.map(_.spill).sum,
      recordsWritten = mine.map(_.recW).sum,
      jobBusyS = busyMs / 1e3, concurrentJobsMax = concurrent,
      analysisS = phase(QueryPlanningTracker.ANALYSIS),
      optimizerS = phase(QueryPlanningTracker.OPTIMIZATION),
      planningS = phase(QueryPlanningTracker.PLANNING))
  } }
}

object Tracer {
  /** Whole-stage and expression code compilations so far in this JVM. */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
