package graft

import scala.collection.mutable

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query trace: runs a query `reps` times, each rep after
  * [[Bench.resetRound]] (so a traced rep is a bench leg), and splits each
  * rep's wall time into three layers:
  *   - Catalyst: analysis, optimization and planning time of every query
  *     execution the rep ran (the counting action and any eager action
  *     taken while the query was built);
  *   - Spark jobs: duration, tasks, task time, shuffle bytes, spill and GC
  *     per job, with the job's callsite;
  *   - the driver gap: wall minus the union of job intervals (query
  *     construction, AQE re-planning between stages, result handling).
  * One SparkListener and one QueryExecutionListener are registered for the
  * run and removed after it. */
object QueryTrace {

  val Phases: Seq[String] = Seq("analysis", "optimization", "planning")

  /** One Spark job. `site` is the last stage's name plus the first graft
    * frame of its callsite: the job-level short callsite is an opaque SQL
    * execution wrapper for every DataFrame action. */
  final case class Job(id: Int, site: String, startMs: Long, endMs: Long,
                       tasks: Int, taskMs: Long, shuffleReadBytes: Long,
                       shuffleWriteBytes: Long, spillBytes: Long, gcMs: Long) {
    def seconds: Double = (endMs - startMs) / 1e3
  }

  /** One rep: `phasesS` holds the phases Catalyst recorded, in seconds. */
  final case class Rep(wallS: Double, rows: Long, jobs: Seq[Job],
                       driverGapS: Double, phasesS: Map[String, Double]) {
    def jobSumS: Double = jobs.map(_.seconds).sum
  }

  private def isCallerFrame(line: String): Boolean =
    line.contains("graft.") && !line.contains("graft.QueryTrace") &&
      !line.contains("graft.StageProfile")

  /** Jobs, with the metrics of their completed stages folded in. Events
    * arrive on the listener-bus thread; readers drain the bus first. */
  private final class JobListener extends SparkListener {
    private val open = mutable.Map[Int, Job]()
    private val stageJob = mutable.Map[Int, Int]()
    private val done = mutable.ArrayBuffer[Job]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val site = e.stageInfos.lastOption.map { si =>
        si.name + " | " + si.details.linesIterator.find(isCallerFrame)
          .getOrElse("").trim
      }.getOrElse("?")
      open(e.jobId) = Job(e.jobId, site, e.time, e.time, 0, 0L, 0L, 0L, 0L, 0L)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        for (jid <- stageJob.get(si.stageId); j <- open.get(jid);
             m <- Option(si.taskMetrics)) {
          open(jid) = j.copy(tasks = j.tasks + si.numTasks,
            taskMs = j.taskMs + m.executorRunTime,
            shuffleReadBytes = j.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
            shuffleWriteBytes = j.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
            spillBytes = j.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
            gcMs = j.gcMs + m.jvmGCTime)
        }
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open.remove(e.jobId).foreach(j => done += j.copy(endMs = e.time))
    }

    def take(): Seq[Job] = synchronized {
      val out = done.sortBy(_.id).toSeq
      done.clear(); open.clear(); stageJob.clear()
      out
    }
  }

  /** Catalyst phase totals over every query execution that finished. */
  private final class PhaseListener extends QueryExecutionListener {
    private val ms = mutable.Map[String, Long]()
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
    private def add(qe: QueryExecution): Unit = synchronized {
      qe.tracker.phases.foreach { case (phase, s) =>
        if (Phases.contains(phase))
          ms(phase) = ms.getOrElse(phase, 0L) + s.durationMs
      }
    }
    def take(): Map[String, Double] = synchronized {
      val out = ms.map { case (k, v) => k -> v / 1e3 }.toMap
      ms.clear()
      out
    }
  }

  /** Milliseconds of [lo, hi] covered by at least one job. */
  private def covered(jobs: Seq[Job], lo: Long, hi: Long): Long = {
    var reach = lo
    var sum = 0L
    jobs.map(j => (math.max(j.startMs, lo), math.min(j.endMs, hi)))
      .sortBy(_._1).foreach { case (s, e) =>
        val from = math.max(s, reach)
        if (e > from) { sum += e - from; reach = e }
      }
    sum
  }

  /** Runs `query` (built afresh each rep) `reps` times and counts it. */
  def run(spark: SparkSession, reps: Int)(query: => DataFrame): Seq[Rep] = {
    val sc = spark.sparkContext
    val jobs = new JobListener
    val phases = new PhaseListener
    sc.addSparkListener(jobs)
    spark.listenerManager.register(phases)
    try (1 to reps).map { _ =>
      Bench.resetRound(spark)
      ListenerBridge.drain(sc)
      jobs.take(); phases.take()
      val (w0Ms, w0) = (System.currentTimeMillis(), System.nanoTime())
      val rows = query.count()
      val wallS = (System.nanoTime() - w0) / 1e9
      val w1Ms = System.currentTimeMillis()
      ListenerBridge.drain(sc)
      val js = jobs.take()
      Rep(wallS, rows, js,
        math.max(0.0, wallS - covered(js, w0Ms, w1Ms) / 1e3), phases.take())
    } finally {
      sc.removeSparkListener(jobs)
      spark.listenerManager.unregister(phases)
    }
  }
}
