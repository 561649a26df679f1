package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-layer counters over an interval, read from [[Probe]]. */
final case class LayerStats(
    wallS: Double, jobs: Long, stages: Long, driverGapS: Double,
    cpuS: Double, runS: Double, gcS: Double,
    shuffleWriteBytes: Long, shuffleReadRecords: Long, spillBytes: Long,
    inputBytes: Long, queries: Long,
    analysisMs: Double, optimizationMs: Double, planningMs: Double,
    compileMs: Double, taskSkew: Double) {

  def toMap: Map[String, Any] = Map(
    "wall_s" -> wallS, "jobs" -> jobs, "stages" -> stages, "driver_gap_s" -> driverGapS,
    "cpu_s" -> cpuS, "run_s" -> runS, "gc_s" -> gcS,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_records" -> shuffleReadRecords,
    "spill_bytes" -> spillBytes, "input_bytes" -> inputBytes, "queries" -> queries,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs, "compile_ms" -> compileMs, "task_skew" -> taskSkew)
}

/** Passive observer of the session: a SparkListener for jobs, stages and
  * tasks, and a QueryExecutionListener for Catalyst's per-phase planning
  * times. It starts no job, collects nothing and changes no plan; the
  * traced run checks that (see `Passive`). */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val cpuNs = new AtomicLong
  private val runMs = new AtomicLong
  private val gcMs = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val shuffleReadRecords = new AtomicLong
  private val spill = new AtomicLong
  private val inputBytes = new AtomicLong
  private val queries = new AtomicLong
  private val analysisUs = new AtomicLong
  private val optimizationUs = new AtomicLong
  private val planningUs = new AtomicLong
  // job intervals (ms since epoch) and task durations, append-only
  private val jobStart = scala.collection.concurrent.TrieMap[Int, Long]()
  private val intervals = ArrayBuffer[(Long, Long)]()
  private val taskMs = ArrayBuffer[Long]()

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobStart.put(e.jobId, e.time); () }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.incrementAndGet()
    val t0 = jobStart.remove(e.jobId).getOrElse(e.time)
    intervals.synchronized { intervals += ((t0, e.time)) }
    ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadRecords.addAndGet(m.shuffleReadMetrics.recordsRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
    if (e.taskInfo != null) taskMs.synchronized { taskMs += e.taskInfo.duration }
    ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    queries.incrementAndGet()
    val ph = qe.tracker.phases
    def us(p: String): Long = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs) * 1000L).getOrElse(0L)
    analysisUs.addAndGet(us("analysis"))
    optimizationUs.addAndGet(us("optimization"))
    planningUs.addAndGet(us("planning"))
    ()
  }

  /** Drain the listener bus, then read every counter. */
  def mark(): Probe.Mark = {
    org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)
    Probe.Mark(System.nanoTime(), System.currentTimeMillis(), jobs.get, stages.get,
      cpuNs.get, runMs.get, gcMs.get, shuffleWrite.get, shuffleReadRecords.get,
      spill.get, inputBytes.get, queries.get, analysisUs.get, optimizationUs.get,
      planningUs.get, CodeGenerator.compileTime,
      intervals.synchronized(intervals.length), taskMs.synchronized(taskMs.length))
  }

  /** Counters accumulated between two marks. */
  def between(a: Probe.Mark, b: Probe.Mark): LayerStats = {
    val ivs = intervals.synchronized(intervals.slice(a.nIntervals, b.nIntervals).toVector)
    val tasks = taskMs.synchronized(taskMs.slice(a.nTasks, b.nTasks).toVector).sorted
    LayerStats(
      wallS = (b.wallNs - a.wallNs) / 1e9,
      jobs = b.jobs - a.jobs, stages = b.stages - a.stages,
      driverGapS = Probe.gapSeconds(a.epochMs, b.epochMs, ivs),
      cpuS = (b.cpuNs - a.cpuNs) / 1e9, runS = (b.runMs - a.runMs) / 1e3,
      gcS = (b.gcMs - a.gcMs) / 1e3,
      shuffleWriteBytes = b.shuffleWrite - a.shuffleWrite,
      shuffleReadRecords = b.shuffleReadRecords - a.shuffleReadRecords,
      spillBytes = b.spill - a.spill, inputBytes = b.inputBytes - a.inputBytes,
      queries = b.queries - a.queries,
      analysisMs = (b.analysisUs - a.analysisUs) / 1e3,
      optimizationMs = (b.optimizationUs - a.optimizationUs) / 1e3,
      planningMs = (b.planningUs - a.planningUs) / 1e3,
      compileMs = (b.compileNs - a.compileNs) / 1e6,
      taskSkew = if (tasks.length < 2) 1.0
        else tasks.last.toDouble / math.max(tasks(tasks.length / 2), 1L))
  }
}

object Probe {
  final case class Mark(wallNs: Long, epochMs: Long, jobs: Long, stages: Long,
      cpuNs: Long, runMs: Long, gcMs: Long, shuffleWrite: Long,
      shuffleReadRecords: Long, spill: Long, inputBytes: Long, queries: Long,
      analysisUs: Long, optimizationUs: Long, planningUs: Long,
      compileNs: Long, nIntervals: Int, nTasks: Int)

  /** Seconds of [t0, t1] (epoch ms) covered by no job interval. */
  def gapSeconds(t0: Long, t1: Long, jobs: Seq[(Long, Long)]): Double = {
    val clipped = jobs.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, (t1 - t0) - covered) / 1e3
  }
}
